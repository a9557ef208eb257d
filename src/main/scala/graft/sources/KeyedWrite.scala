package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Transactional DSv2 write path for `graft-keyed` (r14 verdict #3) —
  * write-audit-publish, the Snowpipe/Iceberg commit discipline the
  * reference's ingest-then-archive contract models
  * (`/root/reference/README.md:43-44`: auto-ingest on arrival, files
  * visible to queries only once loaded, originals archived):
  *
  *  1. WRITE: every task writes its keys' files into an UNCOMMITTED
  *     generation directory `_gen-<queryId>/k=<v>/…` — never into the
  *     live layout. Spark clusters rows by the layout key and sorts
  *     (key, sortBy…) inside each task ([[RequiresDistributionAndOrdering]]
  *     — the write-once shuffle the read side amortizes), so each key
  *     lands wholly in one task as one contiguous run → exactly ONE
  *     file per key, the read contract, enforced (a key reopening
  *     fails the task rather than splitting a directory).
  *  2. AUDIT: the framing guard (no NULLs, no US/RS/LF/CR in any
  *     field, dirname-safe keys) runs in the writer, per row — the
  *     same violations the old projection-based stager raised, same
  *     message shape. Task commit messages carry each key's
  *     count/min/max/sum and per-column KMV distinct sketches,
  *     accumulated from EXACTLY the rows written — the stats can no
  *     longer diverge from the committed bytes even for a
  *     non-deterministic input (the read-back pass the old stager
  *     needed for that guarantee is gone, one full scan saved per
  *     stage).
  *  3. PUBLISH: the driver writes the stats sidecar and order marker
  *     INSIDE the generation directory, then atomically swaps the
  *     `_graft_keyed_commit` snapshot log onto a window ending in the
  *     new generation (rename-with-overwrite — atomic on HDFS and
  *     local). Readers resolve the log at plan time: a crash anywhere
  *     before the swap leaves the previous snapshot fully live
  *     (KeyedWriteSpec pins the crash window), and an aborted job
  *     deletes only its own `_gen-*` staging. Retention (`retain`
  *     write option, default 1) decides what the swap supersedes:
  *     generations no retained snapshot references are deleted inside
  *     the commit — Iceberg's expire-snapshots folded into publish —
  *     while retained ones stay readable via `asOf`/`VERSION AS OF`
  *     (time travel) until they age out of the window. retain=1 is
  *     byte-for-byte the old immediate-delete behavior.
  *
  * APPEND mode (r16 — `INSERT INTO`, `mode("append")`, and Spark's
  * insert-only-MERGE rewrite, which plans an AppendData): the new rows
  * stage into their own generation exactly like an overwrite, but the
  * commit KEEPS the head's base generation and records each written
  * key as an EDIT APPEND (`priorLive(k) :+ gen` — the same per-key
  * file-reference mechanism row-level MERGE inserts use), so live
  * files are never rewritten in place (the torn-read the pre-log
  * connector refused appends to avoid no longer exists — generations
  * are immutable and visibility is one CAS claim of the next
  * versioned log). Appended
  * keys are served by >1 file until a compaction rewrites them
  * (ordering claims drop meanwhile — readOrderMarkerView); the
  * changes table prices an append interval at O(delta) because only
  * the appended directories differ by reference. Pure additions
  * cannot write-skew, so an append retries the CAS loop against a
  * fresh head instead of failing like row-level DML (Iceberg's
  * append-vs-validate line). Appending to a path with NO commit log
  * refuses ([[KeyedSource.requireLog]]): stage it first.
  *
  * COMMITS SERIALIZE THROUGH THE CAS (r16 — the r15 last-rename-wins
  * window is closed): publish claims the versioned log file for the
  * next seq by ATOMIC EXCLUSIVE create ([[KeyedSource.publishLog]]);
  * a losing committer re-reads the fresh log (the winner's snapshot
  * included) and rebuilds, so the log never loses a commit. Pure
  * writes (overwrite, append) rebase safely this way; DML/compaction
  * add the serializable scanned-seq check on top. */
final class KeyedWriteBuilder(declared: StructType, path: String, key: String,
    sortBy: Seq[String], retain: Int, info: LogicalWriteInfo,
    tableBranch: Option[String] = None) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = {
    val schema = info.schema()
    require(schema.fieldNames.contains(key),
      s"key column '$key' must be part of the written schema ${schema.simpleString}")
    require(sortBy.forall(c => schema.fieldNames.contains(c) && c != key),
      s"sortBy must name non-key layout columns, got ${sortBy.mkString(",")}")
    // INT joins the storable set in r18 as the WIDENING source type
    // (KeyedSource.WidenCol promotes it to BIGINT as pure metadata —
    // the text frames hold the same digit bytes either way).
    // DOUBLE/FLOAT join in r19 as sortable-bits digits (bit-exact
    // IEEE storage whose numeric order IS Spark's double order —
    // KeyedStats.sortableDouble), so DML/CDC/IVM/skipping cover the
    // one type every real warehouse schema carries; SUM stays out of
    // the metadata-answer set (FP addition is not associative).
    schema.fields.foreach(f => require(
      f.dataType == LongType || f.dataType == StringType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType,
      s"graft-keyed supports BIGINT, STRING, INT, DOUBLE, and FLOAT " +
        s"fields, got ${f.name}: ${f.dataType}"))
    schema(key).dataType match {
      case LongType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"graft-keyed supports BIGINT and STRING keys, got $other")
    }
    // write option `branch=<name>`: land this append on a named branch
    // (invisible to main until fastForward promotes it — the
    // write-audit-publish lifecycle at the table layer)
    val branch = Option(info.options.get("branch")).filter(_.nonEmpty)
      .orElse(tableBranch)
    if (branch.isDefined && overwrite)
      throw new UnsupportedOperationException(
        s"graft-keyed branch writes are APPEND-only (branch '${branch.get}'): " +
          "an overwrite would replace the whole table through a side ref; " +
          "use mode('append'), or overwrite main directly")
    // write option `codec` (r18): 'deflate' writes each key file
    // DEFLATE-compressed under the `.dfl` suffix — per-FILE dispatch,
    // so readers inflate by extension and mixed generations compose
    val codec = Option(info.options.get("codec")).filter(_.nonEmpty)
      .getOrElse("none")
    require(codec == "none" || codec == "deflate",
      s"graft-keyed codec must be 'none' or 'deflate', got '$codec'")
    new KeyedWrite(schema, path, key, sortBy, retain, info.queryId(),
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()),
      overwrite, branch, codec)
  }
}

final class KeyedWrite(schema: StructType, path: String, key: String,
    sortBy: Seq[String], retain: Int, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    overwrite: Boolean = true, branch: Option[String] = None,
    codec: String = "none")
    extends Write with RequiresDistributionAndOrdering {
  override def description(): String =
    s"GraftKeyedWrite path=$path key=$key" +
      (if (sortBy.nonEmpty) s" sortBy=${sortBy.mkString(",")}" else "")
  // cluster by the layout key (each key wholly in one task — the
  // one-file-per-key contract) and sort key-first inside each task
  // (keys arrive contiguous; the stored per-key order is the declared
  // sortBy — what the order marker then truthfully claims)
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column(key)))
  // Pin the write-side clustering shuffle at the SESSION's configured
  // shuffle parallelism (r19 optimization): with AQE's coalescing
  // sized by the advisory target (parallelismFirst=false — the
  // production-recommended mode Bench now sets), a small-batch write
  // would coalesce to ONE task and create every per-key file serially
  // (measured: q82's z-order stage 1.2 → 2.7 s cold). Writer
  // parallelism is an I/O-fan-out decision, not a bytes-per-task
  // decision, so it follows spark.sql.shuffle.partitions — the knob
  // that already scales with deployment size — rather than the
  // advisory byte target. 0 (= let Spark choose) if no session.
  private val writeParallelism: Int = KeyedSource.sessionWriteParallelism
  override def requiredNumPartitions(): Int = writeParallelism
  override def requiredOrdering(): Array[SortOrder] =
    (key +: sortBy).map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  override def toBatch: BatchWrite =
    new KeyedBatchWrite(schema, path, key, sortBy, retain, queryId, conf,
      overwrite, branch, codec)
  // streaming ingest (r17): same clustered distribution, epoch-committed
  // through the same CAS publish — see KeyedStreamingWrite
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new KeyedStreamingWrite(schema, path, key, sortBy, retain, queryId,
      conf, overwrite, branch, codec)
}

/** One key's audited write stats, accumulated in the task from exactly
  * the rows written; shapes match [[KeyedStats.Entry]] (min/max as the
  * framed string forms, sum only meaningful at BIGINT columns). */
final case class KeyedKeyStats(rawKey: String, count: Long,
    mins: Array[String], maxs: Array[String], sums: Array[Long]) {
  def entry: KeyedStats.Entry = KeyedStats.Entry(rawKey, count, mins, maxs, sums)
}

/** Per-key count/min/max/sum over rows that arrive key-contiguous: the
  * one stats rule behind the writers' sidecar entries and the
  * merge-on-read stats patch. BIGINT and INT take the integer leg
  * (min/max as Long, an exact `addExact` sum — ANSI semantics, like a
  * Spark sum); DOUBLE and FLOAT fold their sortable-bits digits
  * ([[KeyedStats.sortableDouble]] — numeric order there IS the value
  * order, NaN and -0.0 normalized) into min/max and keep no sum (FP
  * addition is not associative); STRING keeps UTF8String byte-order
  * extremes. */
private[sources] final class KeyedStatsAcc(schema: StructType) {
  private val n = schema.length
  private val kind: Array[Int] = schema.fields.map(f => KeyedSource.kindOf(f.dataType))
  private var raw: String = null
  private var count = 0L
  private val minL = new Array[Long](n)
  private val maxL = new Array[Long](n)
  private val sums = new Array[Long](n)
  private val minS = new Array[UTF8String](n)
  private val maxS = new Array[UTF8String](n)
  private val done = scala.collection.mutable.ArrayBuffer.empty[KeyedKeyStats]

  /** Whether column `i` is stored as digits (every kind but STRING). */
  def digits(i: Int): Boolean = kind(i) != 1

  /** Count one row of key `raw`, closing the previous key's run when
    * `raw` starts a new one; the row's columns then fold through
    * [[long]] / [[string]]. */
  def begin(raw: String): Unit = {
    if (raw != this.raw) {
      close()
      this.raw = raw
      count = 0L
      java.util.Arrays.fill(minL, Long.MaxValue)
      java.util.Arrays.fill(maxL, Long.MinValue)
      java.util.Arrays.fill(sums, 0L)
      java.util.Arrays.fill(minS.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(maxS.asInstanceOf[Array[AnyRef]], null)
    }
    count += 1
  }

  /** Fold digit column `i` of `row`; returns its stored Long form. */
  def long(row: InternalRow, i: Int): Long = {
    val v = kind(i) match {
      case 0 => row.getLong(i)
      case 2 => row.getInt(i).toLong
      case 3 => KeyedStats.sortableDouble(row.getDouble(i))
      case _ => KeyedStats.sortableFloat(row.getFloat(i)).toLong
    }
    if (v < minL(i)) minL(i) = v
    if (v > maxL(i)) maxL(i) = v
    if (kind(i) == 0 || kind(i) == 2) sums(i) = Math.addExact(sums(i), v)
    v
  }

  /** Fold STRING column `i` of `row`; returns its value. An extreme is
    * cloned (the row's buffer is reused) only when it becomes one —
    * sorted-run data makes that rare. */
  def string(row: InternalRow, i: Int): UTF8String = {
    val u = row.getUTF8String(i)
    if (minS(i) == null || u.compareTo(minS(i)) < 0) minS(i) = u.clone()
    if (maxS(i) == null || u.compareTo(maxS(i)) > 0) maxS(i) = u.clone()
    u
  }

  /** Fold a whole row of key `raw`. */
  def add(raw: String, row: InternalRow): Unit = {
    begin(raw)
    var i = 0
    while (i < n) {
      if (digits(i)) long(row, i) else string(row, i)
      i += 1
    }
  }

  private def close(): Unit = if (raw != null) {
    val mins = new Array[String](n)
    val maxs = new Array[String](n)
    var i = 0
    while (i < n) {
      if (digits(i)) { mins(i) = minL(i).toString; maxs(i) = maxL(i).toString }
      else { mins(i) = minS(i).toString; maxs(i) = maxS(i).toString }
      i += 1
    }
    done += KeyedKeyStats(raw, count, mins, maxs, sums.clone())
    raw = null
  }

  /** Every key's stats, in arrival order. */
  def result(): Seq[KeyedKeyStats] = { close(); done.toSeq }
}

final case class KeyedCommitMessage(keys: Seq[KeyedKeyStats],
    sketches: Array[Array[Long]]) extends WriterCommitMessage

final class KeyedBatchWrite(schema: StructType, path: String, key: String,
    sortBy: Seq[String], retain: Int, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    overwrite: Boolean = true, branch: Option[String] = None,
    codec: String = "none") extends BatchWrite {

  private def genName = s"_gen-$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KeyedWriterFactory(schema, key, s"$path/$genName", conf, codec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: KeyedCommitMessage => m }
    val hconf = conf.value
    val root = new org.apache.hadoop.fs.Path(path)
    val gen = new org.apache.hadoop.fs.Path(root, genName)
    val fs = root.getFileSystem(hconf)
    val entries = KeyedWriteAudit.auditAndWrite(schema, key, sortBy, msgs,
      fs, gen, what = "write")
    if (KeyedSource.failBeforePublish) throw new IllegalStateException(
      "graft-keyed test hook: crash before publish")
    if (!overwrite) { appendCommit(entries, fs, gen); return }
    // PUBLISH: append the new snapshot to the retained window and claim
    // the next seq through the CAS (KeyedSource.commitLoop) — a
    // concurrent committer winning the seq makes the loop rebuild
    // against the FRESH log (the winner's snapshot included), so no
    // commit is ever silently superseded. An overwrite commit starts
    // with an empty tombstone/edit set (the new generation IS the new
    // truth); the first commit on an empty path starts the log. The
    // retention window never SHRINKS as a side effect of a
    // default-options overwrite (CommitLog.append keeps the wider of
    // the log's persisted retain and this write's declared one).
    KeyedSource.commitLoop(path, hconf, "write commit") { prior =>
      Some(prior.fold(KeyedSource.CommitLog(math.max(retain, 1),
          Seq(KeyedSource.Snapshot(1L, genName, Set.empty))))(log =>
        log.append(KeyedSource.Snapshot(log.nextSeq, genName, Set.empty), retain)))
    }
  }

  /** The APPEND publish (KeyedWriteBuilder scaladoc): the head's base
    * generation and tombstone-surviving keys carry forward untouched;
    * every written key gains this generation as an EDIT APPEND after
    * its prior files (a tombstoned or brand-new key is revived/created
    * from this generation alone). Pure additions cannot write-skew, so
    * a racing commit just makes the CAS loop rebuild against the fresh
    * head — the appended rows land after the winner, never instead of
    * it. An EMPTY append is a visible no-op: no snapshot burned. */
  private def appendCommit(entries: Seq[KeyedKeyStats],
      fs: org.apache.hadoop.fs.FileSystem, gen: org.apache.hadoop.fs.Path): Unit = {
    if (entries.isEmpty) { fs.delete(gen, true); return }
    val written: Set[String] = entries.map(_.rawKey).toSet
    KeyedSource.commitLoop(path, conf.value, "append commit") { prior =>
      val log = KeyedSource.requireLog(path, prior, "append")
      // the append's BASE ref: main's head, or the named branch's head
      // (branch appends diverge invisibly — main readers skip branch
      // snapshots by construction)
      val head = branch.fold(log.head)(log.branchHead)
      Some(log.append(new KeyedSource.PriorFiles(path, conf.value, head)
        .appended(log.nextSeq, written, genName, branch), retain))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // the crash hook models PROCESS DEATH, where no abort ever runs —
    // leave the orphaned staging on disk so the spec can verify the
    // next successful commit heals it (a graceful failure still cleans)
    if (KeyedSource.failBeforePublish) return
    val gen = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(path), genName)
    val fs = gen.getFileSystem(conf.value)
    fs.delete(gen, true) // only our own staging — the live layout is untouched
  }
}

final class KeyedWriterFactory(schema: StructType, key: String, genDir: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    codec: String = "none")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KeyedDataWriter(schema, key, genDir, taskId, conf, codec)
}

/** Per-task writer: frames rows into the current key's single file,
  * auditing every field inline (framing guard) and accumulating the
  * stats the commit publishes. Keys arrive contiguously (required
  * ordering is key-first) — a key seen twice means the sort contract
  * broke and the task fails loudly. */
final class KeyedDataWriter(schema: StructType, key: String, genDir: String,
    taskId: Long, conf: org.apache.spark.util.SerializableConfiguration,
    codec: String = "none")
    extends DataWriter[InternalRow] {
  require(codec == "none" || codec == "deflate",
    s"graft-keyed codec must be 'none' or 'deflate', got '$codec'")
  private val deflate = codec == "deflate"

  private val keyIdx = schema.fieldIndex(key)
  private val keyIsLong = schema(key).dataType == LongType
  private val n = schema.length
  private val dirnameOk = java.util.regex.Pattern.compile("[A-Za-z0-9_.-]+")
  private val fs = new org.apache.hadoop.fs.Path(genDir).getFileSystem(conf.value)

  private var out: java.io.OutputStream = null
  private var currentRaw: String = null
  private val seen = scala.collection.mutable.HashSet.empty[String]

  // Zero-allocation ASCII digits (r19 optimization): the frame encoder
  // used to run `Long.toString(v).getBytes(US_ASCII)` per numeric
  // field per row — one String + one byte[] allocation each. Digits
  // render right-aligned into this per-writer scratch instead (single
  // task thread; Long.MinValue, which cannot be negated, is the one
  // special case).
  private val numBuf = new Array[Byte](20)
  private val minLongBytes =
    Long.MinValue.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def writeLongAscii(v0: Long): Unit = {
    if (v0 == Long.MinValue) { out.write(minLongBytes); return }
    var v = v0
    if (v < 0) { out.write('-'); v = -v }
    var i = numBuf.length
    while ({
      i -= 1
      numBuf(i) = ('0' + (v % 10)).toByte
      v /= 10
      v != 0
    }) ()
    out.write(numBuf, i, numBuf.length - i)
  }

  // per-key audit accumulation (Entry shapes) + table-level sketches
  private val stats = new KeyedStatsAcc(schema)
  private val sketches = Array.fill(n)(new KmvSketch)

  private def violation(raw: String, what: String): Nothing =
    throw new IllegalStateException(
      s"graft-keyed framing violation at key=$raw: $what")

  private def closeFile(): Unit = if (out != null) { out.close(); out = null }

  private def openKey(raw: String): Unit = {
    if (seen.contains(raw)) throw new IllegalStateException(
      s"graft-keyed write saw key=$raw twice non-contiguously: the " +
        "key-first sort contract broke; refusing to split a one-file directory")
    seen += raw
    currentRaw = raw
    // the suffix IS the codec record (per-file, like the DV naming):
    // readers inflate by extension, so mixed generations compose
    val name = if (deflate) s"part-$taskId${PageSource.DeflateSuffix}"
      else s"part-$taskId.txt"
    val raw0 = fs.create(
      new org.apache.hadoop.fs.Path(genDir, s"k=$raw/$name"), true)
    out = new java.io.BufferedOutputStream(
      if (deflate) {
        // explicit Deflater for the 64 KiB buffer — the JDK stream
        // only end()s a DEFAULT deflater on close; release the native
        // state per key file (one writer flushes many keys)
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        new java.util.zip.DeflaterOutputStream(raw0, defl, 1 << 16) {
          override def close(): Unit = try super.close() finally defl.end()
        }
      } else raw0,
      1 << 16)
  }

  override def write(row: InternalRow): Unit = {
    // key first: its raw form names the directory and every violation
    if (row.isNullAt(keyIdx)) violation("NULL", s"NULL key column '$key'")
    val raw =
      if (keyIsLong) row.getLong(keyIdx).toString
      else {
        val u = row.getUTF8String(keyIdx).toString
        if (!dirnameOk.matcher(u).matches())
          violation(u, s"STRING key must be a directory name over [A-Za-z0-9_.-], got '$u'")
        u
      }
    if (raw != currentRaw) { closeFile(); openKey(raw) }
    stats.begin(raw)
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) violation(raw, s"NULL field '${schema(i).name}'")
      if (stats.digits(i)) {
        // integers as is, DOUBLE/FLOAT as sortable-bits digits: the
        // sketch hashing and the frame bytes live in the same Long
        // domain the stats accumulate in
        val v = stats.long(row, i)
        sketches(i).addLong(v)
        writeLongAscii(v)
      } else {
        val u = stats.string(row, i)
        val bytes = u.getBytes
        var b = 0
        while (b < bytes.length) {
          val c = bytes(b)
          if (c == 0x1F || c == 0x1E || c == '\n' || c == '\r')
            violation(raw, s"frame delimiter byte in field '${schema(i).name}'")
          b += 1
        }
        sketches(i).addBytes(bytes)
        out.write(bytes)
      }
      if (i < n - 1) out.write(0x1F)
      i += 1
    }
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    closeFile()
    KeyedCommitMessage(stats.result(), sketches.map(_.hashes))
  }

  override def abort(): Unit = close() // job-level abort deletes the staging dir

  override def close(): Unit = closeFile()
}

/** K-minimum-values distinct sketch (seedless, deterministic — the
  * repo's x55 estimator, here as a plain accumulator): keep the K
  * smallest 63-bit hashes; |distinct| ≈ (K−1)/R where R is the Kth
  * smallest as a fraction of the hash space. Exact below K (the set IS
  * the distinct hashes). Feeds the sidecar's table-level NDV line —
  * what CBO's join-cardinality estimation reads off a connector scan. */
final class KmvSketch {
  import KmvSketch.K
  private val set = new java.util.TreeSet[java.lang.Long]()
  // Fast-reject bound (r19 optimization): once the sketch holds K
  // hashes, any hash >= the Kth-smallest cannot enter the bottom-K —
  // skip the boxed TreeSet insert+evict (one primitive compare instead
  // of two O(log K) tree walks per value; after the first K rows the
  // common case is a reject). A duplicate of a RETAINED hash also
  // rejects (h >= bound means h is either present at the boundary —
  // add would no-op — or above it); a duplicate below the bound hits
  // the TreeSet's own dedup. Output is bit-identical to the unguarded
  // form.
  private var bound = Long.MaxValue

  private def add(h63: Long): Unit = {
    if (set.size >= K && h63 >= bound) return
    set.add(h63)
    if (set.size > K) set.remove(set.last)
    if (set.size >= K) bound = set.last
  }
  def addLong(v: Long): Unit = add(KmvSketch.mix(v) >>> 1)
  def addBytes(b: Array[Byte]): Unit = {
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var i = 0
    while (i < b.length) { h ^= b(i); h *= 1099511628211L; i += 1 }
    add(KmvSketch.mix(h) >>> 1)
  }
  def addHashes(hs: Array[Long]): Unit = hs.foreach(add)
  def hashes: Array[Long] = {
    val a = new Array[Long](set.size)
    val it = set.iterator(); var i = 0
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    a
  }
  def estimate: Long =
    if (set.size < K) set.size.toLong
    else {
      val kth = set.last.toDouble // 63-bit space
      math.max(set.size.toLong, ((K - 1).toDouble * 9.223372036854776e18 / kth).toLong)
    }
}

object KmvSketch {
  val K = 256
  /** splitmix64 finalizer — the standard public-domain bit mixer. */
  def mix(x0: Long): Long = {
    var x = x0 + -7046029254386353131L
    x = (x ^ (x >>> 30)) * -4658895280553007687L
    x = (x ^ (x >>> 27)) * -7723592293110705685L
    x ^ (x >>> 31)
  }
}


/** The generation AUDIT every graft-keyed commit runs before publish.
  * The batch overwrite and append ([[KeyedBatchWrite]]), the streaming
  * epoch ([[KeyedStreamingWrite]]), the copy-on-write rewrite
  * ([[KeyedCowBatchWrite]]), compaction and re-bucketing
  * ([[KeyedCompact]]) call [[auditAndWrite]]: the one-task-per-key
  * check, then the stats write. Merge-on-read inserts
  * ([[KeyedMorBatchWrite]]), whose per-key entries legitimately merge
  * across tasks, call only [[writeStats]]. Sidecar stats derive from
  * exactly the rows written ([[KeyedStatsAcc]]). The one read-back
  * pass is the merge-on-read stats PATCH: a deletion vector changes no
  * written row, so its commit folds the affected keys' surviving rows
  * through the same accumulator ([[KeyedMorBatchWrite]]). */
private[sources] object KeyedWriteAudit {
  def auditAndWrite(schema: StructType, key: String, sortBy: Seq[String],
      msgs: Seq[KeyedCommitMessage], fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path, what: String): Seq[KeyedKeyStats] = {
    val entries = msgs.flatMap(_.keys)
    // the clustered distribution guarantees one task per key; two
    // tasks reporting the same key means the one-file contract broke —
    // refuse to publish a layout the read side would misread
    val dup = entries.groupBy(_.rawKey).collect { case (k, g) if g.size > 1 => k }
    if (dup.nonEmpty) throw new IllegalStateException(
      s"graft-keyed $what produced ${dup.size} keys in multiple tasks " +
        s"(${dup.take(3).mkString(",")}…): clustering contract violated, not publishing")
    writeStats(schema, key, sortBy, entries.map(_.entry), msgs, fs, gen)
    entries
  }

  /** Write the stats sidecar (per-key count/min/max/sum + the table
    * line of total count and per-column NDVs), the KMV sketch file and
    * the order marker INSIDE the uncommitted generation `gen`. */
  def writeStats(schema: StructType, key: String, sortBy: Seq[String],
      entries: Seq[KeyedStats.Entry], msgs: Seq[KeyedCommitMessage],
      fs: org.apache.hadoop.fs.FileSystem, gen: org.apache.hadoop.fs.Path): Unit = {
    // ONE sketch merge serves both the estimate line and the persisted
    // hash file: KMV merges by construction (union the hash sets, keep
    // the K smallest)
    val merged = Array.fill(schema.length)(new KmvSketch)
    msgs.foreach(_.sketches.zipWithIndex.foreach { case (hs, i) =>
      merged(i).addHashes(hs) })
    val table = KeyedStats.TableNdv(entries.map(_.count).sum,
      merged.map(_.estimate))
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.SidecarFile),
      KeyedStats.render(schema, key, entries, Some(table)))
    // r19: persist the KMV sketch BYTES per column alongside the
    // estimates, so a view whose keys are served by several
    // generations can still answer table NDV by merging the
    // per-generation sketches. ~K×8 bytes per column, one file per
    // commit.
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.NdvFile),
      KeyedStats.renderNdv(schema, key, merged.map(_.hashes)))
    if (sortBy.nonEmpty)
      KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedSource.OrderFile),
        KeyedSource.renderOrderMarker(schema, key, sortBy))
    // ensure the generation directory exists even for an EMPTY write
    // (zero tasks produced zero files): the log must never name a
    // missing directory
    if (!fs.exists(gen)) fs.mkdirs(gen)
  }
}

/** Streaming ingest into `graft-keyed` (r16 verdict #2 — the
  * reference's Snowpipe auto-ingest, `/root/reference/README.md:43-44`,
  * landing in the TRANSACTIONAL table instead of loose parquet dirs):
  * each micro-batch epoch stages into its own uncommitted generation
  * `_gen-<queryId>-e<epochId>` through the SAME audited writer as batch
  * writes, and the epoch commit publishes ONE snapshot through the SAME
  * CAS loop — append semantics by default (per-key edit appends, the
  * Snowpipe shape), overwrite-per-epoch under Complete mode.
  *
  * EXACTLY-ONCE: the commit log's header carries a per-streaming-query
  * max-committed-epoch marker (`CommitLog.streams`, keyed by the
  * checkpoint-stable query id). Spark replays the last unconfirmed
  * epoch after a restart; a replayed epoch whose marker is already at
  * or past its id deletes its own staging and commits NOTHING — the
  * snapshot either carries the epoch's rows and its marker (one atomic
  * swap) or neither, so sink-side duplication is structurally
  * impossible. The marker map is bounded by the number of distinct
  * streaming queries ever writing to the table.
  *
  * At 100 TB: per-epoch cost is O(epoch delta) — appended keys gain one
  * file reference each, unaffected keys carry by reference; CDC prices
  * each epoch interval at its delta, and compaction folds the
  * accumulated small files on its own schedule (the standing
  * fragmentation lifecycle, now fed by a stream). */
final class KeyedStreamingWrite(schema: StructType, path: String, key: String,
    sortBy: Seq[String], retain: Int, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    overwrite: Boolean, branch: Option[String] = None,
    codec: String = "none")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  /** Per-RUN nonce in the staging generation name: a restarted query
    * REPLAYS its last unconfirmed epoch with the same (queryId,
    * epochId), and without the nonce the replay would stage into the
    * very directory the original commit published — its writers would
    * pollute live data and the dedup's staging cleanup would delete a
    * committed generation. The nonce makes every run's staging
    * disjoint; the abandoned copy is deleted by the dedup (or swept as
    * a stale orphan if the process dies first). */
  private val runNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def genNameOf(epochId: Long) = s"_gen-$queryId-$runNonce-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new KeyedStreamingWriterFactory(schema, key,
      s"$path/_gen-$queryId-$runNonce", conf, codec)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: KeyedCommitMessage => m }
    val hconf = conf.value
    val root = new org.apache.hadoop.fs.Path(path)
    val gname = genNameOf(epochId)
    val gen = new org.apache.hadoop.fs.Path(root, gname)
    val fs = root.getFileSystem(hconf)
    val entries = KeyedWriteAudit.auditAndWrite(schema, key, sortBy, msgs,
      fs, gen, what = "streaming write")
    // an EMPTY append epoch is a visible no-op: no snapshot burned, no
    // marker advanced (its replay is another no-op). An empty COMPLETE
    // epoch is a real truncate and commits like any other.
    if (entries.isEmpty && !overwrite) { fs.delete(gen, true); return }
    if (KeyedSource.failBeforePublish) throw new IllegalStateException(
      "graft-keyed test hook: crash before publish")
    var replayed = false
    val written: Set[String] = entries.map(_.rawKey).toSet
    KeyedSource.commitLoop(path, hconf, "streaming epoch commit") { prior =>
      prior match {
        case Some(log) if log.streams.getOrElse(queryId, -1L) >= epochId =>
          // replayed epoch (restart after the sink committed but before
          // the checkpoint confirmed): already in the table — drop the
          // re-staged copy, commit nothing
          replayed = true
          None
        case None =>
          // a branch needs a log to fork from; otherwise the first
          // epoch starts the snapshot log
          branch.foreach(b =>
            KeyedSource.requireLog(path, prior, s"streaming write to branch '$b'"))
          Some(KeyedSource.CommitLog(math.max(retain, 1),
            Seq(KeyedSource.Snapshot(1L, gname, Set.empty)),
            streams = Map(queryId -> epochId)))
        case Some(log) =>
          // streaming into a BRANCH: each epoch appends to the branch
          // head, invisible to main until a fastForward promotes it —
          // the audit-a-stream-then-publish workflow
          val head = branch.fold(log.head)(log.branchHead)
          val snap =
            if (overwrite) KeyedSource.Snapshot(log.nextSeq, gname, Set.empty)
            else {
              // append publish — the batch appendCommit's shape
              new KeyedSource.PriorFiles(path, hconf, head)
                .appended(log.nextSeq, written, gname, branch)
            }
          Some(log.copy(streams = log.streams + (queryId -> epochId))
            .append(snap, retain))
      }
    }
    if (replayed) fs.delete(gen, true)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    if (KeyedSource.failBeforePublish) return // modeled process death
    val gen = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), genNameOf(epochId))
    gen.getFileSystem(conf.value).delete(gen, true)
  }
}

/** Routes each epoch's writers into that epoch's own staging
  * generation (`genPrefix` already carries the query id + run nonce);
  * the writer itself is the audited batch writer. */
final class KeyedStreamingWriterFactory(schema: StructType, key: String,
    genPrefix: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    codec: String = "none")
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new KeyedDataWriter(schema, key, s"$genPrefix-e$epochId", taskId, conf, codec)
}
