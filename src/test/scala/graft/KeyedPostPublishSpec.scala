package graft

import graft.sources.{KeyedCompact, KeyedSource}
import org.apache.spark.sql.types.StructType

/** The local filesystem under its own scheme, whose next delete of a
  * `_gen-*` directory fails once armed: a cleanup fault injected after
  * a commit's log claim has already won. */
class GenDeleteFaultFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${GenDeleteFaultFileSystem.Scheme}:///")
  override def getScheme: String = GenDeleteFaultFileSystem.Scheme
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    if (p.getName.startsWith("_gen-") && GenDeleteFaultFileSystem.armed.getAndSet(false))
      throw new java.io.IOException(s"injected delete failure: $p")
    super.delete(p, recursive)
  }
}

object GenDeleteFaultFileSystem {
  val Scheme = "graftfault"
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** FileContext binding for the scheme: the commit's exclusive claim of
  * the next log file renames through FileContext off the `file:`
  * scheme. */
class GenDeleteFaultFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new GenDeleteFaultFileSystem,
      conf, GenDeleteFaultFileSystem.Scheme, false)

/** A commit is visible once its log claim wins, so a cleanup failure
  * after that point must neither fail the operation nor touch the
  * generation the new head references; and a head whose generation is
  * missing never reads as an empty table. */
class KeyedPostPublishSpec extends SparkSpec {

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"

  test("a failed generation delete after publish leaves the new head whole (overwrite, compaction)") {
    val ss = spark.newSession()
    val scheme = GenDeleteFaultFileSystem.Scheme
    ss.conf.set(s"fs.$scheme.impl", classOf[GenDeleteFaultFileSystem].getName)
    ss.conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[GenDeleteFaultFs].getName)
    import ss.implicits._
    def df(n: Long, tag: String) =
      (0L until n).map(i => (i % 4L, i, s"$tag${i % 3L}", (i * 7L) % 101L))
        .toDF("kb", "doc_id", "source", "n_chars")
    def read(dir: String) = ss.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb").load()
    val hconf = ss.sessionState.newHadoopConf()
    def headGensExist(dir: String): Unit = {
      val head = KeyedSource.readCommitLog(dir, hconf).get.head
      head.referencedGens.distinct.foreach { g =>
        assert(new java.io.File(new java.net.URI(s"$dir/$g").getPath).isDirectory,
          s"head generation $g must exist")
      }
    }
    val local = graft.io.TempDirs.scratch("graft_postpub_") + "/t"
    val dir = s"$scheme://$local"
    try {
      KeyedSource.stageKeyed(ss, df(16L, "a"), dir, "kb", retain = 1)
      // overwrite with retain = 1: its cleanup expires the old generation
      GenDeleteFaultFileSystem.armed.set(true)
      KeyedSource.stageKeyed(ss, df(24L, "b"), dir, "kb", retain = 1)
      assert(!GenDeleteFaultFileSystem.armed.get, "the fault must have fired")
      headGensExist(dir)
      assert(read(dir).count() == 24L)

      // fragment every key with an append, then compact: its cleanup
      // expires the append generation the compacted snapshot drops
      df(8L, "c").selectExpr("kb", "doc_id + 100 AS doc_id", "source", "n_chars")
        .write.format("graft-keyed").option("schema", ddl).option("key", "kb")
        .mode("append").save(dir)
      GenDeleteFaultFileSystem.armed.set(true)
      assert(KeyedCompact.compact(ss, dir, StructType.fromDDL(ddl), "kb") == 4)
      assert(!GenDeleteFaultFileSystem.armed.get, "the fault must have fired")
      headGensExist(dir)
      assert(read(dir).count() == 32L)

      // a head whose base generation is gone is damage: the read fails
      // loudly instead of answering as an empty table
      val base = KeyedSource.readCommitLog(dir, hconf).get.head.gen
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$local/$base"))
      val e = intercept[Exception](read(dir).count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains("is missing")),
        e.getMessage)
    } finally GenDeleteFaultFileSystem.armed.set(false)
  }
}
