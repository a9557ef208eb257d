package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session memo's lifecycle under concurrency: compute-once per
  * entry, clear against an in-flight build, nested builds, and a clear
  * that reaches every kind of artifact. Each test works on its own
  * child session (own memo store, shared SparkContext), so clearing it
  * leaves the shared session's memo alone. */
class SessionMemoSpec extends graft.SparkSpec {

  private def tmp(name: String): String =
    graft.io.TempDirs.scratch(s"graft-$name")

  /** Persisted RDDs whose cached plan carries the column `tag`. */
  private def persisted(tag: String): Int =
    spark.sparkContext.getPersistentRDDs.values.count(r => Option(r.name).exists(_.contains(tag)))

  /** A persisted, materialized frame with a column named `tag`. */
  private def taggedFrame(s: SparkSession, tag: String): DataFrame = {
    val df = s.range(1000).toDF(tag).persist()
    df.count()
    df
  }

  private def withPool[A](n: Int)(f: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutorService(pool))
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("clearMemo drops the sign-bits dial with the rest: memoPopulated is false after it") {
    val ss = spark.newSession()
    LlmData.corpusSignBits(ss, sf0001)
    assert(LlmData.memoPopulated(ss), "the dial must register in the session memo")
    LlmData.clearMemo(ss)
    assert(!LlmData.memoPopulated(ss),
      "clearMemo must release every memoized artifact, the sign-bits dial included")
  }

  test("N threads first-touching one frame key build it once and leave one persisted RDD") {
    val ss = spark.newSession()
    val dir = tmp("memo-once")
    val tag = s"memo_once_${System.nanoTime}"
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val frames = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        gate.await()
        SessionMemo.frame(ss, tag, dir) {
          builds.incrementAndGet()
          Thread.sleep(100) // widen the window for a duplicate build
          taggedFrame(ss, tag)
        }
      })
      gate.countDown()
      fs.map(Await.result(_, 2.minutes))
    }
    assert(builds.get == 1, s"the build ran ${builds.get} times")
    assert(frames.forall(_ eq frames.head), "every caller must get the one memoized frame")
    assert(persisted(tag) == 1, "exactly one persisted copy")
    LlmData.clearMemo(ss)
    assert(persisted(tag) == 0, "clearMemo must unpersist the frame")
  }

  test("a clearMemo racing an in-flight build strands no persisted frame") {
    val ss = spark.newSession()
    val dir = tmp("memo-race")
    val tag = s"memo_race_${System.nanoTime}"
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      val build = Future {
        SessionMemo.frame(ss, tag, dir) {
          entered.countDown()
          proceed.await()
          taggedFrame(ss, tag)
        }
      }
      assert(entered.await(1, TimeUnit.MINUTES))
      val clear = Future(LlmData.clearMemo(ss))
      Thread.sleep(200) // let the clear reach the entry under construction
      proceed.countDown()
      Await.result(build, 2.minutes)
      Await.result(clear, 2.minutes)
    }
    val held = SessionMemo.keys(ss).contains((tag, dir))
    assert(persisted(tag) == (if (held) 1 else 0),
      "every persisted frame must stay reachable from the memo (and so releasable)")
    LlmData.clearMemo(ss)
    assert(persisted(tag) == 0)
  }

  test("nested builds (x110-scored -> tok-corpus) under concurrency finish without deadlock") {
    val ss = spark.newSession()
    // a private corpus copy: its staged plans differ from the shared
    // session's, so clearing them cannot unpersist another suite's cache
    val dir = tmp("memo-nested")
    Files.copy(java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    withPool(6) { implicit ec =>
      val fs = (1 to 6).map { i => Future {
        i % 3 match {
          case 0 => LlmData.tokStaged(ss, dir).count()
          case 1 => Shaping.lmScored(ss, dir).count()
          case _ => LlmData.clearMemo(ss); Shaping.lmScored(ss, dir).count()
        }
      }}
      val counts = fs.map(Await.result(_, 5.minutes))
      assert(counts.forall(_ > 0))
    }
    LlmData.clearMemo(ss)
    assert(!LlmData.memoPopulated(ss))
  }
}
