package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The local filesystem under another scheme: how an s3a:// or hdfs://
  * corpus looks to code that must not assume `file:` paths. */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${OtherSchemeFileSystem.Scheme}:///")
  override def getScheme: String = OtherSchemeFileSystem.Scheme
}

object OtherSchemeFileSystem {
  val Scheme = "graftfs"
}

/** tokStaged's single-file spread is sized by the corpus file's bytes
  * (one partition per MB, capped at the shuffle knob) on any filesystem,
  * not only `file:` paths. */
class TokStagedSpreadSpec extends graft.SparkSpec {

  test("a single-file corpus behind a non-file: scheme gets a spread sized by its bytes") {
    val ss = spark.newSession()
    // session confs reach every Hadoop conf the session derives
    ss.conf.set(s"fs.${OtherSchemeFileSystem.Scheme}.impl", classOf[OtherSchemeFileSystem].getName)
    // ~3 MB of incompressible text in ONE parquet file
    val stage = graft.io.TempDirs.scratch("graft-spread-stage")
    ss.range(3000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(16)),
          i => sha2(concat(col("id").cast("string"), lit("-"), i.cast("string")), 256)))
          .as("text"),
        lit("en").as("lang"), lit("src0").as("source"), lit(1024L).as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val dir = graft.io.TempDirs.scratch("graft-spread")
    Files.copy(Paths.get(part), Paths.get(dir, "documents.parquet"))

    val bytes = new java.io.File(s"$dir/documents.parquet").length()
    val knob = ss.sessionState.conf.numShufflePartitions
    val expected = math.max(1L, math.min(knob.toLong, bytes / (1L << 20) + 1L)).toInt
    assert(expected > 1, s"the fixture must span more than 1 MB ($bytes bytes)")

    val staged = LlmData.tokStaged(ss, s"${OtherSchemeFileSystem.Scheme}://$dir")
    try {
      assert(staged.inputFiles.forall(_.startsWith(OtherSchemeFileSystem.Scheme + ":")),
        "the corpus must be read through the non-file: scheme")
      assert(staged.rdd.getNumPartitions == expected,
        s"spread must be sized by the file's $bytes bytes")
    } finally LlmData.clearMemo(ss)
  }
}
