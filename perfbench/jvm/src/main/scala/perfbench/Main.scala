package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark harness entry point.
  *
  * Usage: `perfbench.Main <work>/spec.json` — the spec is written by
  * `perfbench/run.py` once the inputs are generated and names the
  * workload, its input files, the measured window and whether this run
  * is traced; the JVM starts its session meanwhile and waits for it. The
  * harness runs the workload as a closed loop with one client thread
  * and writes `result.json` next to the spec; all metric arithmetic and
  * all correctness checks happen in Python on that file.
  *
  * `perfbench.Main --train <dir>` runs a few small jobs instead, under
  * the build, so the JVM can record the classes they load in a class
  * data archive that every measured run then maps.
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--train") return train(args(1))
    require(args.length == 1, "usage: perfbench.Main <spec.json> | --train <dir>")
    val specFile = new java.io.File(args(0))
    val workDir = specFile.getAbsoluteFile.getParentFile.getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    // the session starts while the inputs are still being generated;
    // nothing is timed against the workload until the spec appears
    val t0 = System.nanoTime()
    val spark = session(workDir, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val waitUntil = System.nanoTime() + 150L * 1000000000L
    while (!specFile.exists()) {
      require(System.nanoTime() < waitUntil, s"no spec at $specFile")
      Thread.sleep(20)
    }
    val spec = JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(specFile.toPath), "UTF-8"))
    implicit val formats: Formats = DefaultFormats
    val workload = (spec \ "workload").extract[String]
    val seconds = (spec \ "seconds").extract[Double]
    val trace = (spec \ "trace").extract[Boolean]
    val setupReps = (spec \ "setup_reps").extract[Int]

    val rec = new Recorder(spark, trace)
    val out = Json.out()
    out("session_s") = Json.num(sessionS)
    out("cores") = JLong(cores)
    val w: Workload = workload match {
      case "etl_daily" => new EtlDaily(spark, rec, spec, workDir)
      case "keyed_upsert" => new KeyedUpsert(spark, rec, spec, workDir)
      case "curation_retrieval" => new CurationRetrieval(spark, rec, spec, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: repeated so the reported figure is a median, each rep
    // building the workload's state afresh through the engine; then
    // warmup units so the measured window starts with compiled code
    val setup = (0 until setupReps).map { i =>
      val s0 = System.nanoTime()
      w.prep(i)
      (System.nanoTime() - s0) / 1e9
    }
    out("setup_reps_s") = JArray(setup.map(Json.num).toList)
    val u0 = System.nanoTime()
    w.warmup((spec \ "warmup_units").extract[Int])
    out("warmup_s") = Json.num((System.nanoTime() - u0) / 1e9)
    rec.clearOps()

    // measured window: a fixed number of whole units, so every run does
    // the same requests at the same point of the JVM's warm-up; a window
    // that passes three times `seconds` stops early. A traced run
    // alternates untraced and traced units, so it needs two. A unit the
    // box contended (other processes took more than `contended_share` of
    // the CPU) is made up by one more, at most `extra_units` times, so a
    // burst on the box costs a run time rather than a sample.
    val target = (spec \ "units").extract[Int].max(if (trace) 2 else 1)
    val contendedShare = (spec \ "contended_share").extract[Double]
    val maxUnits = target + (spec \ "extra_units").extract[Int]
    var clean = 0
    val box = new BoxSampler(cores)
    box.start()
    val w0 = System.nanoTime()
    out("window_start") = JLong(rec.nowMicros)
    val hardStop = w0 + (3 * seconds * 1e9).toLong
    var unit = 0
    val units = List.newBuilder[JValue]
    while ((unit < target || (clean < target && unit < maxUnits)) && w.hasUnit(unit) &&
        System.nanoTime() < hardStop) {
      // traced runs alternate traced and untraced units, so the
      // tracing overhead is read off one run under one box state
      rec.traced = trace && unit % 2 == 1
      rec.unit = unit
      val mark = box.mark()
      val start = rec.nowMicros
      w.runUnit(unit)
      val (other, iowait) = box.since(mark)
      if (other <= contendedShare) clean += 1
      units += JObject("unit" -> JLong(unit), "start" -> JLong(start),
        "end" -> JLong(rec.nowMicros), "other_cpu_share" -> Json.num(other),
        "iowait_share" -> Json.num(iowait))
      unit += 1
      rec.fullGc() // samples the live heap; not part of any unit
    }
    rec.traced = false
    val windowS = (System.nanoTime() - w0) / 1e9
    box.stop()
    out("window_s") = Json.num(windowS)
    out("units") = JLong(unit)
    out("unit_box") = JArray(units.result())
    out("box") = box.toJson

    // untimed: final state dumps for the correctness checks
    w.finish(out)
    out("peak_heap_mb") = Json.num(rec.peakHeapMb())
    out("storage_memory_mb") = Json.num(rec.storageMemoryMb())
    rec.writeTo(out)
    Json.write(new java.io.File(workDir, "result.json"), out)
    // nothing is left to keep: the caller deletes the work directory,
    // so skip the session's orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  /** Small jobs over the paths the workloads take: JSON and parquet
    * files, explode, shuffles, a window, a join, and a graft-keyed table. */
  private def train(dir: String): Unit = {
    val spark = session(dir, Runtime.getRuntime.availableProcessors)
    import org.apache.spark.sql.functions._
    val df = spark.range(2000).select(col("id"), (col("id") % 16).as("kb"),
      array(col("id"), col("id") + 1).as("xs"), col("id").cast("string").as("s"))
    df.write.mode("overwrite").json(s"$dir/t_json")
    df.write.mode("overwrite").parquet(s"$dir/t_parquet")
    val j = spark.read.schema(df.schema).json(s"$dir/t_json")
      .select(col("kb"), explode(col("xs")).as("x"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kb").orderBy(col("x").desc)
    j.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(spark.read.parquet(s"$dir/t_parquet"), Seq("kb"), "left_anti").collect()
    df.select(col("kb"), col("id").as("doc_id"), col("id").as("n_chars"))
      .write.format("graft-keyed").option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
      .option("key", "kb").mode("overwrite").save(s"$dir/t_keyed")
    spark.read.format("graft-keyed").option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
      .option("key", "kb").load(s"$dir/t_keyed").groupBy("kb").agg(sum("n_chars")).collect()
    spark.stop()
  }

  private def session(workDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.catalog.graftcat", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload: its state is built afresh by each `prep` rep, `warmup`
  * units follow, then the loop drives one closed-loop unit (a daily
  * batch, an op block, a curation cycle) at a time. */
trait Workload {
  def prep(rep: Int): Unit
  def warmup(units: Int): Unit
  def hasUnit(unit: Int): Boolean
  def runUnit(unit: Int): Unit
  def finish(out: Json.Out): Unit
}
