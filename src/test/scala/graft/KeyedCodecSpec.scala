package graft

import graft.sources.{GraftCatalog, KeyedCompact, KeyedSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Frame compression on keyed generations (r18 — write option
  * `codec=deflate`). The codec is recorded PER FILE in the name
  * (`.dfl` suffix), so readers inflate by extension and mixed
  * generations compose with no marker. Pins:
  * (1) a deflate stage writes `.dfl` files MEASURABLY smaller than the
  *     uncompressed twin, and the decode round-trips identical
  *     values;
  * (2) mixed generations: an uncompressed append over a compressed
  *     base (and the reverse) read together;
  * (3) derivative commits INHERIT the codec: a COW DELETE's rewrite
  *     and a compaction both write `.dfl` when the layout does;
  * (4) metadata surfaces are orthogonal: pushed aggregates, TopN, and
  *     non-key skipping answer identically over compressed frames;
  * (5) MOR deletion vectors compose (ordinals index the INFLATED
  *     stream, which is the only stream the decoders ever see);
  * (6) a bad codec option refuses at plan time. */
class KeyedCodecSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, body STRING, n_chars BIGINT"
  private val schema = StructType.fromDDL(ddl)
  private def hconf = spark.sessionState.newHadoopConf()

  /** Repetitive bodies — the compressible shape real text has. */
  private def df(n: Long) =
    (0L until n).map(i => (i % 8L, i,
      s"the quick brown fox ${i % 5} jumps over the lazy dog " * 6,
      (i * 7L) % 101L))
      .toDF("kb", "doc_id", "body", "n_chars")

  private def readKeyed(dir: String): DataFrame =
    spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb").load()

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
      .flatMap(_.listFiles().filter(d => d.isDirectory && d.getName.startsWith("k=")))
      .flatMap(_.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
          !f.getName.startsWith("dv-"))).toSeq

  test("deflate stage: .dfl files, smaller bytes, both decode paths round-trip") {
    val base = graft.io.TempDirs.scratch("graft_codec_")
    val plain = s"$base/plain"
    val packed = s"$base/packed"
    KeyedSource.stageKeyed(spark, df(256L), plain, "kb", sortBy = Seq("doc_id"))
    KeyedSource.stageKeyed(spark, df(256L), packed, "kb",
      sortBy = Seq("doc_id"), codec = "deflate")

    val pf = dataFiles(packed)
    assert(pf.nonEmpty && pf.forall(_.getName.endsWith(".dfl")), pf.map(_.getName))
    val plainBytes = dataFiles(plain).map(_.length).sum
    val packedBytes = pf.map(_.length).sum
    assert(packedBytes * 3 < plainBytes,
      s"expected >=3x shrink on repetitive text, got $plainBytes -> $packedBytes")

    val expect = df(256L).orderBy("doc_id").collect()
    assert(readKeyed(packed).orderBy("doc_id").collect().sameElements(expect),
      "the decode must read through the inflater")

    // metadata surfaces are orthogonal to the payload codec
    val agg = readKeyed(packed).groupBy("kb")
      .agg(org.apache.spark.sql.functions.count("*"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKeyedStats"))
    assert(agg.collect().map(_.getLong(1)).toSeq == Seq.fill(8)(32L))
    val point = readKeyed(packed).where($"kb" === 3L)
    assert(point.rdd.getNumPartitions == 1)
    assert(point.count() == 32L)

    // a bad codec refuses at plan time with the accepted values
    val e = intercept[Exception] {
      df(4L).write.format("graft-keyed").option("schema", ddl)
        .option("key", "kb").option("codec", "lz9")
        .mode("overwrite").save(s"$base/bad")
    }
    assert((e.getMessage + Option(e.getCause).fold("")(_.getMessage))
      .contains("deflate"), e.getMessage)
  }

  test("mixed generations compose; COW rewrite and compaction inherit the codec") {
    val dir = graft.io.TempDirs.scratch("graft_codec_mix_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4, codec = "deflate")
    // uncompressed append over the compressed base: per-file dispatch
    df(8L).selectExpr("kb", "doc_id + 1000 AS doc_id", "body", "n_chars")
      .write.format("graft-keyed").option("schema", ddl)
      .option("key", "kb").option("sortBy", "doc_id")
      .mode("append").save(dir)
    assert(readKeyed(dir).count() == 72L)
    val names = dataFiles(dir).map(_.getName)
    assert(names.exists(_.endsWith(".dfl")) && names.exists(_.endsWith(".txt")),
      names)

    // a COW row-grain DELETE rewrites the affected directory — in the
    // layout's own codec, by the extension probe
    spark.conf.set("spark.sql.catalog.gcodec", classOf[GraftCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS gcodec.mix")
    spark.sql(
      s"""CREATE TABLE gcodec.mix (kb BIGINT, doc_id BIGINT, body STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4')""".stripMargin)
    spark.sql("DELETE FROM gcodec.mix WHERE doc_id = 17") // kb=1 rewritten
    val afterCow = dataFiles(dir).map(_.getName)
    assert(afterCow.count(_.endsWith(".dfl")) >= 8, afterCow)
    assert(readKeyed(dir).count() == 71L)

    // compaction folds the fragmented keys back to one .dfl file each
    assert(KeyedCompact.compact(spark, dir, schema, "kb") > 0)
    val afterCompact = dataFiles(dir).map(_.getName)
    assert(afterCompact.forall(n => !n.endsWith(".txt") || n.contains("part")),
      afterCompact)
    assert(readKeyed(dir).count() == 71L)
    assert(readKeyed(dir).where($"doc_id" === 17L).count() == 0L)
  }

  test("a base generation without key directories: rewrites keep the appends' deflate codec") {
    val dir = graft.io.TempDirs.scratch("graft_codec_empty_") + "/t"
    // an empty overwrite commits a base generation holding no `k=`
    // directory; every row then arrives through deflate appends
    KeyedSource.stageKeyed(spark, df(0L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    def append(from: Long) = df(32L).selectExpr("kb", s"doc_id + $from AS doc_id",
      "body", "n_chars").write.format("graft-keyed").option("schema", ddl)
      .option("key", "kb").option("sortBy", "doc_id").option("codec", "deflate")
      .mode("append").save(dir)
    append(0L)
    spark.conf.set("spark.sql.catalog.gcodec3", classOf[GraftCatalog].getName)
    Seq("cow", "mor").foreach { mode =>
      spark.sql(s"DROP TABLE IF EXISTS gcodec3.$mode")
      spark.sql(
        s"""CREATE TABLE gcodec3.$mode (kb BIGINT, doc_id BIGINT, body STRING,
           |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
           |TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4',
           |'dmlMode'='$mode')""".stripMargin)
    }
    def allDeflate(): Unit = {
      val names = dataFiles(dir).map(_.getName)
      assert(names.nonEmpty && names.forall(_.endsWith(".dfl")), names)
    }
    allDeflate()
    // copy-on-write rewrite of kb=1, merge-on-read update versions of
    // kb=2, then compaction of the keys a second append fragments
    spark.sql("DELETE FROM gcodec3.cow WHERE doc_id = 17")
    allDeflate()
    spark.sql("UPDATE gcodec3.mor SET n_chars = 0 WHERE doc_id = 18")
    allDeflate()
    append(1000L)
    assert(KeyedCompact.compact(spark, dir, schema, "kb") > 0)
    allDeflate()
    val got = readKeyed(dir).orderBy("doc_id").collect()
    assert(got.length == 63 && !got.exists(_.getLong(1) == 17L))
    assert(got.find(_.getLong(1) == 18L).exists(_.getLong(3) == 0L))
  }

  test("MOR deletion vectors and non-key skipping compose over compressed frames") {
    val dir = graft.io.TempDirs.scratch("graft_codec_mor_") + "/t"
    // range-keyed so doc_id skipping has disjoint intervals
    val d = (0L until 64L).map(i => (i / 16L, i, s"body ${i % 3} " * 10,
      (i * 7L) % 101L)).toDF("kb", "doc_id", "body", "n_chars")
    KeyedSource.stageKeyed(spark, d, dir, "kb",
      sortBy = Seq("doc_id"), retain = 4, codec = "deflate")
    spark.conf.set("spark.sql.catalog.gcodec2", classOf[GraftCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS gcodec2.mor")
    spark.sql(
      s"""CREATE TABLE gcodec2.mor (kb BIGINT, doc_id BIGINT, body STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4',
         |'dmlMode'='mor')""".stripMargin)
    spark.sql("DELETE FROM gcodec2.mor WHERE doc_id >= 24 AND doc_id <= 27")
    assert(readKeyed(dir).count() == 60L)
    assert(readKeyed(dir).where($"doc_id".between(16L, 31L))
      .collect().map(_.getLong(1)).sorted.toSeq ==
      ((16L to 23L) ++ (28L to 31L)))
    // non-key skipping still proves directories empty over .dfl files
    val skip = readKeyed(dir).where($"doc_id" >= 48L)
    val desc = skip.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.description()
    assert(desc.contains("skipped=3"), desc)
    assert(skip.count() == 16L)
  }
}
