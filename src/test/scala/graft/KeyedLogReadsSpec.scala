package graft

import graft.sources.{GraftCatalog, KeyedSource}

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

/** Commit-log reads per keyed row-level DML: planning a copy-on-write
  * or merge-on-read DML reads the log once (the operation's scan binds
  * the snapshot that read names), and the write inherits its codec from
  * that scanned view instead of reading the log again. */
class KeyedLogReadsSpec extends SparkSpec {

  private val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"

  test("a keyed DML plan reads the commit log once; its write reads it only to commit") {
    val ss = spark.newSession()
    val scheme = LogReadCountingFileSystem.Scheme
    ss.conf.set(s"fs.$scheme.impl", classOf[LogReadCountingFileSystem].getName)
    ss.conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[LogReadCountingFs].getName)
    ss.conf.set("spark.sql.catalog.glogreads", classOf[GraftCatalog].getName)
    import ss.implicits._
    val df = (0L until 32L).map(i => (i % 4L, i, (i * 7L) % 101L))
      .toDF("kb", "doc_id", "n_chars")
    val local = graft.io.TempDirs.scratch("graft_logreads_")
    def reads(body: => Unit): Long = {
      val before = LogReadCountingFileSystem.reads.get()
      body
      LogReadCountingFileSystem.reads.get() - before
    }
    // (plan, run) reads per mode. Copy-on-write plans one more scan:
    // Spark's runtime group filter queries the table itself. A run adds
    // the commit's read of the head it claims after, and merge-on-read
    // its stats-patch read-back of the affected keys.
    val expected = Map("cow" -> ((2L, 3L)), "mor" -> ((1L, 3L)))
    expected.keys.toSeq.sorted.foreach { mode =>
      val dir = s"$scheme://$local/$mode"
      KeyedSource.stageKeyed(ss, df, dir, "kb", retain = 2)
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
      assert(ss.read.format("graft-keyed").option("path", dir).option("schema", ddl)
        .option("key", "kb").load().where($"n_chars" === 0L).count() >= 8L)
    }
  }
}
