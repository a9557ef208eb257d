package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.etl.Normalize
import graft.io.Sinks

/** The paper's pipeline, one request per daily batch: readRaw →
  * normalize → incremental filter against the loaded star →
  * writeStarSchema, then the README reports over the report corpus.
  * Days cycle in epochs; each epoch loads on top of the set-up's base
  * load, so every epoch does the same work. */
final class EtlDaily(spark: SparkSession, rec: Recorder, spec: JValue, work: String)
    extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val baseRaw = (spec \ "base").extract[String]
  private val days = (spec \ "days").extract[Seq[String]]
  private val stamps = (spec \ "stamps").extract[Seq[String]]
  private val baseStamp = (spec \ "base_stamp").extract[String]
  private val corpus = (spec \ "corpus").extract[String]
  private val reports = (spec \ "reports").extract[Seq[String]]
  private var baseOut: String = _
  private val batches = scala.collection.mutable.ArrayBuffer.empty[JValue]

  private def load(raw: String, out: String, existing: Seq[String], stamp: String): Unit = {
    val ts = lit(stamp).cast("timestamp")
    // readRaw and normalize are lazy: their spans time plan building,
    // and the JSON scan runs under the write's span
    val rawDf = rec.span("etl.read_raw")(Normalize.readRaw(spark, raw))
    val star = rec.span("etl.normalize")(Normalize.normalize(rawDf, ts))
    val inc =
      if (existing.isEmpty) star
      else rec.span("etl.incremental") {
        def loaded(t: String): DataFrame =
          spark.read.parquet(existing.map(e => s"$e/$t"): _*)
        Normalize.StarSchema(
          albums = Normalize.incremental(star.albums, loaded("album_data"), "album_id"),
          artists = Normalize.incremental(star.artists, loaded("artist_data"), "artist_id"),
          songs = Normalize.incremental(star.songs, loaded("song_data"), "song_id"))
      }
    rec.span("io.sinks.write_star_schema")(Sinks.writeStarSchema(inc, out, ts))
  }

  private def report(): Unit = reports.foreach { q =>
    rec.op("query", q) {
      rec.collect("operators.relational.query", graft.SparkEntry.queries(q)(spark, corpus))
    }
  }

  def prep(rep: Int): Unit = {
    baseOut = s"$work/star/setup$rep/base"
    rec.op("write", "etl.base_load")(load(baseRaw, baseOut, Nil, baseStamp))
  }

  def warmup(units: Int): Unit = (0 until units).foreach(u => batch(u, s"$work/star/warmup"))

  def hasUnit(unit: Int): Boolean = true

  def runUnit(unit: Int): Unit = {
    val out = batch(unit, s"$work/star/run")
    batches += JObject("unit" -> JLong(unit), "day" -> JLong(unit % days.size),
      "out" -> JString(out))
  }

  /** Days cycle in epochs, each loading on top of the base. */
  private def batch(unit: Int, under: String): String = {
    val day = unit % days.size
    val root = s"$under/e${unit / days.size}"
    val out = s"$root/d$day"
    val existing = baseOut +: (0 until day).map(d => s"$root/d$d")
    rec.op("write", "etl.daily_load")(load(days(day), out, existing, stamps(day)))
    report()
    out
  }

  def finish(out: Json.Out): Unit = {
    out("batches") = JArray(batches.toList)
    out("oracle") = Oracle.of(reports)
  }
}

/** Keyed upserts into graft-keyed tables through GraftCatalog SQL: a
  * seeded op log of MERGE (COW and MOR tables), UPDATE, DELETE,
  * AvailableNow streaming upsert epochs and compactions, with point
  * lookups, stats-answered aggregates and changes reads between them.
  * One unit is one block of the log. */
final class KeyedUpsert(spark: SparkSession, rec: Recorder, spec: JValue, work: String)
    extends Workload with AdaptiveSparkPlanHelper {
  private implicit val formats: Formats = DefaultFormats
  private val base = (spec \ "base").extract[String]
  private val retain = (spec \ "retain").extract[Int]
  private val warmupOps = (spec \ "warmup").extract[Seq[JValue]]
  private val blocks = (spec \ "blocks").extract[Seq[Seq[JValue]]]
  private val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
  private val schema = StructType.fromDDL(ddl)
  private var root: String = _
  private val prevSeq = scala.collection.mutable.Map.empty[String, Long]
  private var srcSeq = 0

  private def path(t: String) = s"$root/$t"
  private def table(t: String) = s"graftcat.pb_$t"

  def prep(rep: Int): Unit = {
    root = s"$work/keyed/setup$rep"
    val rows = spark.read.parquet(base)
    // each table is named after its DML mode
    Seq("cow", "mor").foreach { t =>
      rec.op("write", "sources.keyed.create") {
        rec.span("sources.keyed.create") {
          rows.write.format("graft-keyed").option("schema", ddl).option("key", "kb")
            .option("sortBy", "doc_id").option("retain", retain.toString)
            .mode("overwrite").save(path(t))
          spark.sql(s"DROP TABLE IF EXISTS ${table(t)}")
          spark.sql(s"CREATE TABLE ${table(t)} ($ddl) USING `graft-keyed` " +
            s"LOCATION '${path(t)}' TBLPROPERTIES('key'='kb','sortBy'='doc_id'," +
            s"'retain'='$retain','dmlMode'='$t')")
        }
      }
    }
    prevSeq.clear()
    Seq("cow", "mor").foreach(t => prevSeq(t) = headSeq(t))
  }

  def warmup(units: Int): Unit = (0 until units).foreach(_ => warmupOps.foreach(run))

  def hasUnit(unit: Int): Boolean = unit < blocks.size

  def runUnit(unit: Int): Unit = blocks(unit).foreach(run)

  private def headSeq(t: String): Long =
    spark.read.format("graft-keyed").option("path", path(t)).option("schema", ddl)
      .option("key", "kb").option("metadata", "snapshots").load()
      .agg(max("seq")).head().getLong(0)

  /** path -> size of every file under a table root (traced runs). */
  private def files(t: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path(t))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getLen }
    b.result()
  }

  /** One commit. Traced runs list the table's files around it, outside
    * the request's timing, to count what it wrote. */
  private def write(name: String, t: String)(f: => Unit): Unit = {
    val before = if (rec.traced) files(t) else Map.empty[String, Long]
    if (rec.op("write", name)(f).isDefined && rec.traced) {
      val after = files(t)
      val fresh = after.filter { case (k, _) => !before.contains(k) }
      def keys(ps: Iterable[String]) = ps.flatMap(_.split('/').find(_.startsWith("k="))).toSet
      val rewritten = keys(fresh.keys)
      rec.note("new_bytes", fresh.values.sum.toDouble)
      rec.note("new_files", fresh.size.toDouble)
      rec.note("key_dirs_rewritten", rewritten.size.toDouble)
      rec.note("key_dirs_carried", (keys(after.keys) -- rewritten).size.toDouble)
    }
  }

  /** One read. Traced runs then count, from the executed plan, the
    * input partitions its scans planned and the rows they produced. */
  private def read(name: String, df: => DataFrame): Unit =
    rec.op("query", name) {
      val frame = rec.span("plan")(df)
      (frame, rec.collect("collect", frame))
    }.filter(_ => rec.traced).foreach { case (frame, rows) =>
      val scans = collectWithSubqueries(frame.queryExecution.executedPlan) {
        case b: BatchScanExec => b
      }
      rec.note("files_planned", scans.map(_.inputPartitions.size).sum.toDouble)
      rec.note("rows_scanned", scans.map(
        _.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum.toDouble)
      rec.note("rows_returned", rows.size.toDouble)
    }

  private def run(op: JValue): Unit = {
    val kind = (op \ "op").extract[String]
    val t = (op \ "table").extractOpt[String].getOrElse("cow")
    kind match {
      case "merge" =>
        write(s"sources.keyed.merge_$t", t) {
          spark.read.parquet((op \ "src").extract[String]).createOrReplaceTempView("pb_src")
          spark.sql(
            s"""MERGE INTO ${table(t)} AS t USING pb_src AS s
               |ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
               |WHEN NOT MATCHED THEN INSERT (kb, doc_id, n_chars)
               |  VALUES (s.kb, s.doc_id, s.n_chars)""".stripMargin)
          ()
        }
      case "update" =>
        write("sources.keyed.update", t) {
          spark.sql(s"UPDATE ${table(t)} SET n_chars = n_chars + ${(op \ "delta").extract[Long]} " +
            s"WHERE ${(op \ "where").extract[String]}")
          ()
        }
      case "delete" =>
        write("sources.keyed.delete", t) {
          spark.sql(s"DELETE FROM ${table(t)} WHERE ${(op \ "where").extract[String]}")
          ()
        }
      case "ingest" =>
        // deliver the pre-generated epoch file atomically (untimed),
        // then run one AvailableNow epoch of the streaming upsert
        val src = new java.io.File(s"$root/ingest_src")
        src.mkdirs()
        val file = new java.io.File((op \ "file").extract[String])
        val tmp = new java.io.File(src, s".part-$srcSeq")
        java.nio.file.Files.copy(file.toPath, tmp.toPath)
        java.nio.file.Files.move(tmp.toPath, new java.io.File(src, s"epoch-$srcSeq.parquet").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        srcSeq += 1
        write("streaming.keyed_ingest", "cow") {
          graft.streaming.EventStream.keyedUpsertIngest(spark, src.getPath,
            s"$root/ingest_ckpt", table("cow")).awaitTermination()
        }
      case "compact" =>
        write("sources.keyed.compact", t) {
          rec.note("keys_compacted",
            graft.sources.KeyedCompact.compact(spark, path(t), schema, "kb").toDouble)
        }
      case "lookup" =>
        val ids = (op \ "ids").extract[Seq[Long]].mkString(",")
        read("sources.keyed.lookup", spark.sql(
          s"SELECT doc_id, n_chars FROM ${table(t)} " +
            s"WHERE kb = ${(op \ "kb").extract[Long]} AND doc_id IN ($ids) ORDER BY doc_id"))
      case "agg" =>
        val kbs = (op \ "kbs").extract[Seq[Long]].mkString(",")
        read("sources.keyed.agg_read", spark.sql(
          s"SELECT kb, count(*) AS n, min(n_chars) AS lo, max(n_chars) AS hi, " +
            s"sum(n_chars) AS total, min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
            s"FROM ${table(t)} WHERE kb IN ($kbs) GROUP BY kb ORDER BY kb"))
      case "changes" =>
        val from = prevSeq(t)
        var head = from
        read("sources.keyed.changes_read", {
          head = headSeq(t)
          spark.read.format("graft-keyed").option("path", path(t)).option("schema", ddl)
            .option("key", "kb").option("metadata", "changes")
            .option("changesFrom", from.toString).load()
            .groupBy(col("_change_type").as("change_type"), col("kb"))
            .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
            .orderBy("change_type", "kb")
        })
        prevSeq(t) = head
      case other => throw new IllegalArgumentException(s"unknown keyed op $other")
    }
  }

  def finish(out: Json.Out): Unit = {
    Seq("cow", "mor").foreach { t =>
      val dump = s"$work/final_$t"
      try spark.table(table(t)).write.mode("overwrite").parquet(dump)
      catch { case NonFatal(e) => out(s"final_${t}_error") = JString(e.toString) }
      out(s"final_$t") = JString(dump)
      out(s"path_$t") = JString(path(t))
    }
  }
}

/** The LLM-data operators: after `clearMemo`, one curation pass
  * (exact dedup, MinHash and SimHash near-dup, quality rules, the
  * funnel) builds the session memo; then rounds of retrieval queries
  * reuse it. One unit is one pass plus its retrieval rounds. */
final class CurationRetrieval(spark: SparkSession, rec: Recorder, spec: JValue, work: String)
    extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val corpus = (spec \ "corpus").extract[String]
  private val curation = (spec \ "curation").extract[Seq[String]]
  private val retrieval = (spec \ "retrieval").extract[Seq[String]]
  private val rounds = (spec \ "rounds").extract[Int]
  private val warmRounds = (spec \ "setup_rounds").extract[Int]

  private def clearMemo(): Unit =
    rec.op("write", "operators.llm_data.clear_memo") {
      rec.span("operators.llm_data.clear_memo")(graft.operators.LlmData.clearMemo(spark))
    }

  private def run(kind: String, layer: String, q: String): Unit =
    rec.op(kind, q)(rec.collect(layer, graft.SparkEntry.queries(q)(spark, corpus)))

  private def cycle(nRounds: Int): Unit = {
    clearMemo()
    curation.foreach(run("write", "operators.llm_data.curation", _))
    (0 until nRounds).foreach { _ =>
      retrieval.foreach(run("query", "operators.llm_data.retrieval", _))
    }
  }

  def prep(rep: Int): Unit = {
    clearMemo()
    run("query", "operators.llm_data.retrieval", retrieval.head)
  }

  def warmup(units: Int): Unit = (0 until units).foreach(_ => cycle(warmRounds))

  def hasUnit(unit: Int): Boolean = true

  def runUnit(unit: Int): Unit = cycle(rounds)

  def finish(out: Json.Out): Unit = {
    out("oracle") = Oracle.of(curation ++ retrieval)
    out("memo_bytes") = JLong(spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}

/** The engine's registered DuckDB twins for the queries a run used. */
object Oracle {
  def of(queries: Seq[String]): JObject =
    JObject(queries.toList.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> JString(_))))
}
