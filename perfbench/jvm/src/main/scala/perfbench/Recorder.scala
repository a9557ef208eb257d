package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Records what the closed loop did.
  *
  * Always: one [[Op]] per request (a daily load, a commit, a query)
  * with its latency, outcome and result rows. Only while `traced` is
  * on: spans around each public engine call (name, start, end, parent,
  * request id), kept in memory and written out at the end, plus Spark's
  * own counters, which reach the right span through the job property
  * [[Recorder.SpanProp]] set for the duration of the span. */
final class Recorder(spark: SparkSession, trace: Boolean) extends AdaptiveSparkPlanHelper {
  import Recorder._

  @volatile var traced: Boolean = false
  private val sc = spark.sparkContext

  private val baseNano = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = baseMicros + (System.nanoTime() - baseNano) / 1000L

  final case class Op(id: Int, unit: Int, kind: String, name: String,
      start: Long, var end: Long = 0L, var ok: Boolean = true,
      var error: String = null, traced: Boolean = false,
      var result: String = null, notes: mutable.LinkedHashMap[String, Double] =
        mutable.LinkedHashMap.empty)
  final case class Span(id: Long, parent: Long, req: Int, name: String,
      start: Long, var end: Long = 0L, var newPersisted: Int = 0,
      var cachedBytes: Long = 0L)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val results = mutable.LinkedHashMap.empty[String, JValue]
  private var current: Op = null
  private var last: Op = null
  private var spanStack: List[Span] = Nil
  private var nextSpan = 1L
  var unit: Int = 0

  /** Forget set-up and warmup: the window starts from here. */
  def clearOps(): Unit = {
    ops.clear(); spans.clear(); results.clear()
    peakAfterGc = 0L
  }

  /** Run one request. A failure is recorded, not thrown: it counts
    * against every latency metric and the run is marked incorrect. */
  def op[T](kind: String, name: String)(f: => T): Option[T] = {
    val o = Op(ops.size, unit, kind, name, nowMicros, traced = traced)
    ops += o
    current = o
    last = o
    try {
      val r = span(name)(f)
      o.end = nowMicros
      Some(r)
    } catch {
      case NonFatal(e) =>
        o.end = nowMicros
        o.ok = false
        o.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
        None
    } finally current = null
  }

  /** A child span around one engine call; a no-op unless traced. */
  def span[T](name: String)(f: => T): T =
    if (!traced || current == null) f
    else {
      val parent = spanStack.headOption
      val s = Span(nextSpan, parent.map(_.id).getOrElse(0L), current.id, name, nowMicros)
      nextSpan += 1
      spans += s
      spanStack = s :: spanStack
      val before = sc.getPersistentRDDs.keySet
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = nowMicros
        s.newPersisted = (sc.getPersistentRDDs.keySet -- before).size
        s.cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        spanStack = spanStack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** Attach a numeric note (rows, bytes, files) to the current op, or
    * to the last one when called between ops. */
  def note(key: String, v: Double): Unit =
    Option(current).orElse(Option(last)).foreach(_.notes(key) = v)

  /** Attach result rows to the current op (deduplicated by content). */
  def result(rows: Seq[Row]): Unit = if (current != null) {
    val rendered = JArray(rows.map(r => Json.value(r)).toList)
    val md = java.security.MessageDigest.getInstance("MD5")
    val key = md.digest(Json.render(rendered).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    results.getOrElseUpdate(key, rendered)
    current.result = key
  }

  /** Collect a frame as one engine call and attach its rows. */
  def collect(name: String, df: => DataFrame): Seq[Row] = {
    val rows = span(name)(df.collect().toSeq)
    result(rows)
    rows
  }

  // ── Spark counters (traced runs only) ────────────────────────────
  private val jobs = new ConcurrentLinkedQueue[JValue]
  private val stages = new ConcurrentLinkedQueue[JValue]
  private val tasks = new ConcurrentLinkedQueue[JValue]
  private val queries = new ConcurrentLinkedQueue[JValue]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      span.foreach { sid =>
        jobs.add(JObject("job" -> JLong(e.jobId), "span" -> JLong(sid.toLong),
          "time" -> JLong(e.time), "stages" -> JArray(e.stageIds.map(i => JLong(i)).toList)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null && i.submissionTime.isDefined) {
        stages.add(JObject(
          "stage" -> JLong(i.stageId), "attempt" -> JLong(i.attemptNumber()),
          "submitted" -> JLong(i.submissionTime.get),
          "completed" -> JLong(i.completionTime.getOrElse(i.submissionTime.get)),
          "tasks" -> JLong(i.numTasks),
          "cpu_ns" -> JLong(m.executorCpuTime), "run_ms" -> JLong(m.executorRunTime),
          "gc_ms" -> JLong(m.jvmGCTime),
          "shuffle_write_bytes" -> JLong(m.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> JLong(m.shuffleReadMetrics.totalBytesRead),
          "spill_bytes" -> JLong(m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_bytes" -> JLong(m.inputMetrics.bytesRead),
          "input_records" -> JLong(m.inputMetrics.recordsRead),
          "output_bytes" -> JLong(m.outputMetrics.bytesWritten),
          "output_records" -> JLong(m.outputMetrics.recordsWritten),
          // the accumulators this stage updated: SQL metrics among them
          // tie the stage to the plan nodes it ran
          "accums" -> JArray(i.accumulables.keys.toList.sorted.map(a => JLong(a))),
          "failed" -> JBool(i.failureReason.isDefined)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        tasks.add(JArray(List(JLong(e.stageId), JLong(e.taskInfo.duration), JLong(in))))
      }
    }
  }

  /** What an executed plan did, from its own SQL metrics: the file
    * scans (format, rows, and the metric ids their stages update), the
    * rows exploded from the raw `tracks` array, and the rows and bytes
    * each file write committed. */
  private def planFacts(qe: QueryExecution): List[JField] = {
    val plan = qe.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      JObject("format" -> JString(s.relation.fileFormat.toString),
        "rows" -> JLong(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)),
        "accums" -> JArray(s.metrics.values.map(_.id).toList.sorted.map(JLong(_))))
    }
    val exploded = collectWithSubqueries(plan) {
      case g: GenerateExec if g.generator.children.exists(_.references.exists(_.name == "tracks")) =>
        JLong(g.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
    val writes = collect(plan) {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          JObject("path" -> JString(c.outputPath.toString),
            "rows" -> JLong(c.metrics.get("numOutputRows").map(_.value).getOrElse(0L)),
            "bytes" -> JLong(c.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)))
        case _ => JNothing
      }
    }.filter(_ != JNothing)
    List("scans" -> JArray(scans.toList), "exploded_rows" -> JArray(exploded.toList),
      "writes" -> JArray(writes.toList))
  }

  // a QueryExecution's id is not the execution id its jobs carry, so
  // executions reach spans by time: the callback marks their end
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val facts = try planFacts(qe) catch { case NonFatal(_) => Nil }
      queries.add(JObject(List[JField]("func" -> JString(funcName), "end" -> JLong(nowMicros),
        "us" -> JLong(durationNs / 1000), "ok" -> JBool(true)) ++ facts))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      queries.add(JObject("func" -> JString(funcName), "end" -> JLong(nowMicros),
        "us" -> JLong(0L), "ok" -> JBool(false)))
  }

  if (trace) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  // ── heap: highest used after a full collection ───────────────────
  private var peakAfterGc = 0L

  /** A full collection between units, outside every timed request, then
    * the heap pools' usage after it. It runs twice: Spark's cleaner frees
    * shuffle and broadcast state only after a first collection finds
    * their owners unreachable. */
  def fullGc(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakAfterGc = peakAfterGc.max(used)
  }

  /** Highest heap in use after a full collection between units. */
  def peakHeapMb(): Double = peakAfterGc / 1048576.0

  def storageMemoryMb(): Double =
    sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0

  def writeTo(out: Json.Out): Unit = {
    out("ops") = JArray(ops.toList.map { o =>
      JObject("id" -> JLong(o.id), "unit" -> JLong(o.unit),
        "kind" -> JString(o.kind), "name" -> JString(o.name),
        "start" -> JLong(o.start), "end" -> JLong(o.end), "ok" -> JBool(o.ok),
        "error" -> Json.str(o.error), "traced" -> JBool(o.traced),
        "result" -> Json.str(o.result),
        "notes" -> JObject(o.notes.toList.map { case (k, v) => k -> Json.num(v) }))
    })
    out("results") = JObject(results.toList)
    if (trace) {
      // let the listener bus drain before reading the counters
      Thread.sleep(500)
      out("spans") = JArray(spans.toList.map(s => JObject(
        "id" -> JLong(s.id), "parent" -> JLong(s.parent), "req" -> JLong(s.req),
        "name" -> JString(s.name), "start" -> JLong(s.start), "end" -> JLong(s.end),
        "new_persisted" -> JLong(s.newPersisted), "cached_bytes" -> JLong(s.cachedBytes))))
      out("jobs") = JArray(jobs.asScala.toList)
      out("stages") = JArray(stages.asScala.toList)
      out("tasks") = JArray(tasks.asScala.toList)
      out("queries") = JArray(queries.asScala.toList)
    }
  }
}

object Recorder {
  /** Local job property carrying the innermost open span's id. */
  val SpanProp = "perfbench.span"
}

/** Box-contention record over the measured window: other-process CPU
  * share and iowait share from /proc/stat against this JVM's own CPU
  * time, load1 samples, and the engine's public contention rule
  * ([[graft.Bench.envContended]]). */
final class BoxSampler(cores: Int) {
  private final case class Cpu(total: Long, busy: Long, iowait: Long, self: Long)

  private def read(): Cpu = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val line = try f.getLines().next() finally f.close()
    val v = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = v(0) + v(1) + v(2) + v(5) + v(6) + (if (v.length > 7) v(7) else 0L)
    val total = busy + v(3) + v(4)
    val g = scala.io.Source.fromFile("/proc/self/stat")
    val st = try g.mkString finally g.close()
    val fields = st.substring(st.lastIndexOf(')') + 2).trim.split("\\s+")
    val self = fields(11).toLong + fields(12).toLong // utime stime
    Cpu(total, busy, v(4), self)
  }

  private def load1(): Double = {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.mkString.trim.split("\\s+")(0).toDouble finally f.close()
  }

  private def shares(a: Cpu, b: Cpu): (Double, Double) = {
    val total = (b.total - a.total).max(1L).toDouble
    val other = ((b.busy - a.busy) - (b.self - a.self)).max(0L) / total
    (other, (b.iowait - a.iowait) / total)
  }

  private var busyBefore = -1.0
  private var load1Before = -1.0
  private var load1After = -1.0
  private var during: (Double, Double) = (0.0, 0.0)
  private var startCpu: Cpu = _
  private val loads = new ConcurrentLinkedQueue[Double]
  @volatile private var running = false
  private var thread: Thread = _

  /** A point to measure a unit's contention from. */
  def mark(): AnyRef = read()

  /** (other-process share, iowait share) since `mark`. */
  def since(mark: AnyRef): (Double, Double) = shares(mark.asInstanceOf[Cpu], read())

  def start(): Unit = {
    // the gap sample: half a second with this process idle
    val a = read()
    Thread.sleep(500)
    val b = read()
    busyBefore = shares(a, b)._1
    load1Before = load1()
    startCpu = read()
    running = true
    thread = new Thread(() => {
      while (running) {
        loads.add(load1())
        try Thread.sleep(1000) catch { case _: InterruptedException => () }
      }
    })
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    during = shares(startCpu, read())
    running = false
    thread.interrupt()
    thread.join()
    load1After = load1()
  }

  def toJson: JObject = {
    val ls = loads.asScala.toSeq.sorted
    val med = if (ls.isEmpty) load1After else ls(ls.size / 2)
    val contended = graft.Bench.envContended(cores, med, load1Before, load1After,
      busyBefore, during._1)
    JObject("other_cpu_share" -> Json.num(during._1), "iowait_share" -> Json.num(during._2),
      "busy_before" -> Json.num(busyBefore), "load1_median" -> Json.num(med),
      "load1_before" -> Json.num(load1Before), "load1_after" -> Json.num(load1After),
      "contended" -> JBool(contended))
  }
}
