package graft

import graft.sources.{GraftCatalog, KeyedCompact, KeyedSource}

/** The local filesystem under its own scheme, counting the opens of
  * versioned commit-log files (`_graft_keyed_commit.v<seq>`). */
class LogReadCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${LogReadCountingFileSystem.Scheme}:///")
  override def getScheme: String = LogReadCountingFileSystem.Scheme
  override def open(p: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (p.getName.startsWith(s"${KeyedSource.CommitFile}.v"))
      LogReadCountingFileSystem.reads.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object LogReadCountingFileSystem {
  val Scheme = "graftcount"
  val reads = new java.util.concurrent.atomic.AtomicLong()
}

/** FileContext binding for the scheme (the commit's exclusive claim of
  * the next log file renames through FileContext off `file:`). */
class LogReadCountingFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new LogReadCountingFileSystem,
      conf, LogReadCountingFileSystem.Scheme, false)

/** Commit-log reads per keyed statement: planning a copy-on-write or
  * merge-on-read DML reads the log once (the operation's scan binds the
  * snapshot that read names), the write inherits its codec and its
  * merge-on-read stats patch reads back the affected keys from that
  * scanned view, compaction and re-bucketing scan the head their one
  * read names, and a tag- or branch-pinned read resolves its pin
  * against the same read that builds its view. */
class KeyedLogReadsSpec extends SparkSpec {

  private val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
  private val scheme = LogReadCountingFileSystem.Scheme

  private lazy val ss = {
    val s = spark.newSession()
    s.conf.set(s"fs.$scheme.impl", classOf[LogReadCountingFileSystem].getName)
    s.conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[LogReadCountingFs].getName)
    s.conf.set("spark.sql.catalog.glogreads", classOf[GraftCatalog].getName)
    s
  }

  private def df(n: Long, off: Long = 0L) = {
    val s = ss
    import s.implicits._
    (off until off + n).map(i => (i % 4L, i, (i * 7L) % 101L))
      .toDF("kb", "doc_id", "n_chars")
  }

  private def reads(body: => Unit): Long = {
    val before = LogReadCountingFileSystem.reads.get()
    body
    LogReadCountingFileSystem.reads.get() - before
  }

  private def layout(name: String): String =
    s"$scheme://${graft.io.TempDirs.scratch("graft_logreads_")}/$name"

  private def read(dir: String) = ss.read.format("graft-keyed")
    .option("path", dir).option("schema", ddl).option("key", "kb")

  private def append(dir: String, n: Long, off: Long): Unit =
    df(n, off).write.format("graft-keyed").option("schema", ddl)
      .option("key", "kb").mode("append").save(dir)

  test("a keyed DML plan reads the commit log once; its write reads it only to commit") {
    // (plan, run) reads per mode. Copy-on-write plans one more scan:
    // Spark's runtime group filter queries the table itself. A run adds
    // the commit's read of the head it claims after.
    val expected = Map("cow" -> ((2L, 3L)), "mor" -> ((1L, 2L)))
    val local = layout("dml")
    expected.keys.toSeq.sorted.foreach { mode =>
      val dir = s"$local-$mode"
      KeyedSource.stageKeyed(ss, df(32L), dir, "kb", retain = 2)
      ss.sql(s"DROP TABLE IF EXISTS glogreads.$mode")
      ss.sql(s"CREATE TABLE glogreads.$mode ($ddl) USING `graft-keyed` " +
        s"LOCATION '$dir' TBLPROPERTIES('key'='kb','retain'='2','dmlMode'='$mode')")
      // EXPLAIN plans the row-level rewrite (its scan included) without
      // running it
      val plan = reads(ss.sql(
        s"EXPLAIN UPDATE glogreads.$mode SET n_chars = 0 WHERE kb = 1").collect())
      val run = reads(ss.sql(
        s"UPDATE glogreads.$mode SET n_chars = 0 WHERE kb = 1").collect())
      assert((plan, run) == expected(mode), s"$mode (plan, run) log reads")
      import org.apache.spark.sql.functions.col
      assert(read(dir).load().where(col("n_chars") === 0L).count() >= 8L)
    }
  }

  test("compaction and re-bucketing read the commit log once, plus once per commit attempt") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val dir = layout("maint")
    KeyedSource.stageKeyed(ss, df(32L), dir, "kb")
    append(dir, 8L, 100L)
    assert(reads(assert(KeyedCompact.compact(ss, dir, schema, "kb") == 4)) == 2L)
    import org.apache.spark.sql.functions.col
    assert(reads(assert(KeyedCompact.rebucket(ss, dir, schema, "kb",
      col("doc_id") % 8L) == 4)) == 2L)
    assert(read(dir).load().count() == 40L)
  }

  test("a tag-pinned and a branch-pinned read each read the commit log once") {
    val dir = layout("pins")
    KeyedSource.stageKeyed(ss, df(32L), dir, "kb", retain = 2)
    KeyedSource.tagSnapshot(ss, dir, "audit")
    KeyedSource.createBranch(ss, dir, "wip")
    append(dir, 8L, 100L)
    var rows = 0L
    assert(reads { rows = read(dir).option("tag", "audit").load().collect().length } == 1L)
    assert(rows == 32L)
    assert(reads { rows = read(dir).option("branch", "wip").load().collect().length } == 1L)
    assert(rows == 32L)
  }
}
