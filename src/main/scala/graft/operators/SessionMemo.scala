package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The session memo: every artifact the operators stage once per
  * (session, key, corpus dir) and reuse across queries — persisted
  * frames (token arrays, signature tables, q31's graph), collected
  * driver values (corpus dials, trained quantizers, the decontamination
  * bloom) and the names or paths of written layouts (bucketed and keyed
  * tables, index tables, the capstone's staging root).
  *
  * One store per session, one entry per (key, dir). Each entry carries
  * the corpus GENERATION STAMP of its dir (mtime+length of the corpus
  * files an artifact can derive from): an in-session testdata
  * regeneration re-derives the artifact — releasing the retired one —
  * instead of serving it while the oracle reads the new file, and the
  * store stays at one entry per (key, dir) however many generations a
  * session spans.
  *
  * Builds lock per ENTRY: concurrent first users of one key run the
  * build once (a persisting build run twice would leak one copy), while
  * builds of other keys — eager multi-job ones such as Lloyd's training
  * included — proceed. Builds nest only acyclically (x110-scored →
  * tok-corpus), so nested builds cannot deadlock. [[clear]] holds at most
  * one entry lock at a time and never while holding another. */
private[graft] object SessionMemo {

  private final class Entry(val keep: Boolean) {
    // written under the entry's lock; volatile so [[populated]] can
    // peek without waiting out an in-flight build
    @volatile var stamp: String = null
    var value: Any = null
    var release: () => Unit = () => ()

    def drop(): Unit = { release(); stamp = null; value = null; release = () => () }
  }

  private type Store = ConcurrentHashMap[(String, String), Entry]

  // purged of stopped sessions on every access: a cached value may
  // strongly reference its session, so weak keys alone would never evict
  private val stores = new java.util.HashMap[SparkSession, Store]

  private def storeOf(s: SparkSession): Store = stores.synchronized {
    stores.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
    stores.computeIfAbsent(s, _ => new Store)
  }

  /** One combined stamp for the corpus files an artifact can derive
    * from. Statting all of them over-invalidates a single-table
    * regeneration slightly — but regenerations rewrite the whole dir in
    * practice, and a few metadata stats are noise against the build they
    * guard. Per-file fallback to the table name keeps a missing file
    * (different SF layouts) from failing the stamp itself. An empty dir
    * is a session-scoped entry with no corpus behind it. */
  private def dirStamp(s: SparkSession, dir: String): String =
    if (dir.isEmpty) ""
    else Seq("documents", "embeddings", "lineitem", "events").map { tbl =>
      try graft.sources.Tables.fileStamp(s, s"$dir/$tbl.parquet")
      catch { case scala.util.control.NonFatal(_) => tbl }
    }.mkString("|")

  private def once[V](s: SparkSession, key: String, dir: String, keep: Boolean,
      release: V => Unit)(build: => V): V = {
    val stamp = dirStamp(s, dir)
    val store = storeOf(s)
    val id = (key, dir)
    var done = false
    var out: V = null.asInstanceOf[V]
    while (!done) {
      val e = store.computeIfAbsent(id, _ => new Entry(keep))
      e.synchronized {
        // a concurrent clear may have dropped `e` between the lookup and
        // this lock: building into it would strand the artifact where no
        // later clear can release it, so retry against the live entry.
        // A clear that drops `e` DURING the build waits on this lock and
        // releases what the build made.
        if (store.get(id) eq e) {
          if (e.stamp != stamp) { // absent, or a retired generation
            e.drop()
            val v = build
            e.value = v
            e.release = () => release(v)
            e.stamp = stamp
          }
          out = e.value.asInstanceOf[V]
          done = true
        }
      }
    }
    out
  }

  /** The persisted frame `build` returns, built once per (session, key,
    * dir, corpus generation); unpersisted by [[clear]] or when a new
    * generation replaces it. */
  def frame(s: SparkSession, key: String, dir: String)(build: => DataFrame): DataFrame =
    once[DataFrame](s, key, dir, keep = false, _.unpersist(blocking = false))(build)

  /** A driver value, table name or path, built once per (session, key,
    * dir, corpus generation). It holds no cluster resource, so release
    * only drops it. `keep` entries survive [[clear]]: the capstone's
    * staging root and warehouse, and the CBO child session. */
  def value[V](s: SparkSession, key: String, dir: String, keep: Boolean = false)
      (build: => V): V =
    once[V](s, key, dir, keep, _ => ())(build)

  /** Drop every entry of session `s` except the `keep` ones, releasing
    * what each holds. */
  def clear(s: SparkSession): Unit = {
    val store = storeOf(s)
    store.forEach { (id, e) =>
      if (!e.keep && store.remove(id, e)) e.synchronized(e.drop())
    }
  }

  /** Whether session `s` holds any artifact [[clear]] would release. */
  def populated(s: SparkSession): Boolean =
    storeOf(s).values.asScala.exists(e => !e.keep && e.stamp != null)

  /** Test hook: the (key, dir) pairs session `s` holds. */
  def keys(s: SparkSession): Set[(String, String)] = storeOf(s).keySet.asScala.toSet
}
