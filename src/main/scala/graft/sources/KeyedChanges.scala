package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The `changes` METADATA TABLE (read option `metadata=changes`) —
  * incremental/CDC reads between two committed snapshots, the Iceberg
  * incremental-scan / Delta CDF shape the snapshot log makes possible.
  *
  * `changesFrom = <seq>` (exclusive; 0 = "since the empty table") and
  * `changesTo = <seq>` (inclusive; default = head) select a snapshot
  * interval; the scan returns the NET row-level difference between the
  * two states as the layout schema plus a `_change_type` column
  * ('insert' | 'delete' — an update is its delete+insert pair). A
  * consumer applying deletes-then-inserts to its copy of snapshot
  * `from` lands exactly at snapshot `to`.
  *
  * THE DIFF IS METADATA-PRICED. Snapshots reference immutable
  * generation directories per key ([[KeyedSource.Snapshot]] `edits`),
  * so two snapshots' states are compared by FILE REFERENCE, per key,
  * on the driver:
  *
  *  - identical serving-directory lists ⇒ identical content — the key
  *    is SKIPPED without opening a file. An UPDATE that touched 2 of
  *    16 buckets plans 2 partitions, not 16.
  *  - old list a strict PREFIX of new (row-level APPEND commits) ⇒
  *    only the appended directories are read, all rows 'insert' — the
  *    base data is never re-read. Incremental ingest costs O(delta).
  *  - key only in `to` ⇒ its directories read as 'insert'; key only in
  *    `from` (tombstoned DELETE) ⇒ its directories read as 'delete' —
  *    each side read once, constant-tagged.
  *  - otherwise (copy-on-write REWRITE) both versions of that key are
  *    read and NET-diffed inside the key's single partition: rows
  *    present in both versions cancel locally, so an upsert that
  *    changed 50 rows of a million-row bucket emits 100 change rows,
  *    not two million. The diff is a per-task hash multiset over ONE
  *    key's old rows — the same single-key-per-task memory bound the
  *    write path already enforces ([[KeyedDataWriter]]); ZERO shuffle,
  *    zero Exchange anywhere in the plan.
  *
  * Both interval ends resolve against RETAINED snapshots (the
  * reproducibility rule time travel pins): an expired `from` fails
  * loudly at plan time with the retain remediation rather than
  * silently widening the interval — a CDC consumer that fell behind
  * retention must re-sync, not receive a wrong delta.
  *
  * The STREAMING leg ([[KeyedChangesStream]]) drives the same planner
  * with commit seqs as offsets: `readStream` + `metadata=changes`
  * delivers each commit's net delta as a micro-batch, exactly-once —
  * offsets checkpoint as seqs, generations are immutable, and a
  * restart re-plans the identical interval. This is the line the
  * row-table's streaming refusal (KeyedTable scaladoc) draws: the
  * LIVE directories cannot offer stable offsets, the SNAPSHOT LOG can
  * — Iceberg's streaming reader walks its snapshot log the same way. */
object KeyedChanges {
  val ChangeCol = "_change_type"
  val Insert: UTF8String = UTF8String.fromString("insert")
  val Delete: UTF8String = UTF8String.fromString("delete")

  def changesSchema(declared: StructType): StructType =
    declared.add(ChangeCol, StringType, nullable = false)

  /** Snapshot `seq`'s live (rawKey -> (serving dirs, ABSOLUTE dv
    * paths)), through the same view resolution every read surface
    * uses; seq 0 is the empty table. Loud when `seq` is neither 0 nor
    * retained. */
  private def liveMap(path: String, log: KeyedSource.CommitLog,
      hconf: org.apache.hadoop.conf.Configuration,
      seq: Long): Map[String, (Seq[String], Seq[String])] =
    if (seq == 0L) Map.empty
    else {
      val snap = log.snapshots.find(_.seq == seq).getOrElse(
        throw new IllegalArgumentException(
          s"graft-keyed changes interval end $seq is not retained at $path " +
            s"(retained seqs: ${log.snapshots.map(_.seq).mkString(",")}, " +
            s"retain=${log.retain}) — expired or never committed; a consumer " +
            "behind retention must re-sync from changesFrom=0, or the layout " +
            "must be staged with a larger 'retain'"))
      val view = KeyedSource.SnapshotView(path, snap.seq, Some(snap.gen),
        snap.tombstones, snap.edits, log.ops, snap.dvs)
      view.liveKeyDirs(hconf).map { case (k, dirs) =>
        k -> (dirs, view.dvPathsOf(k))
      }.toMap
    }

  /** Per-directory evolved-read plan (None = the generation already
    * stores the declared schema, so the frame decoder's own projection
    * serves `required` directly) — [[KeyedScan]]'s resolution, shared
    * so changes over schema-evolved layouts read through the same
    * lineage. The SAME-check compares against the full DECLARED
    * schema; the plan, when needed, resolves only `required`. */
  private def planFor(dir: String, ops: Seq[KeyedSource.SchemaOp],
      declared: StructType, required: StructType, layoutPath: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      cache: scala.collection.mutable.Map[String, Option[KeyedSource.DirReadPlan]])
      : Option[KeyedSource.DirReadPlan] = {
    if (ops.isEmpty) return None
    val genRoot = new org.apache.hadoop.fs.Path(dir).getParent.toString
    cache.getOrElseUpdate(genRoot,
      KeyedStats.writtenSchema(genRoot, conf) match {
        case Some(w) =>
          val same = w.fields.map(f => (f.name, f.dataType)).toSeq ==
            declared.fields.map(f => (f.name, f.dataType)).toSeq
          if (same) None
          else Some(KeyedSource.evolvedPlan(genRoot, w, required, ops))
        case None => throw new IllegalStateException(
          s"graft-keyed layout at $layoutPath has schema-evolution lineage " +
            s"but the generation at $genRoot has no readable stats sidecar " +
            "to recover its written schema — cannot map; restage")
      })
  }

  /** The driver-side diff: one partition per CHANGED key, unchanged
    * keys (identical file references) skipped without IO. `keys` (pushed key-grain filters, raw
    * dirname strings) restricts the diff to a key subset BEFORE any
    * IO — a consumer subscribed to one bucket prices its delta at
    * that bucket alone. `tagSchema` is the pruned data projection for
    * the constant-tagged partitions (their decode can prune columns);
    * NET partitions always decode the FULL declared schema — a diff
    * over pruned rows would cancel rows that differ only in pruned
    * columns — and project afterwards. */
  private[graft] def planDiff(path: String, log: KeyedSource.CommitLog,
      hconf: org.apache.hadoop.conf.Configuration,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String, from: Long, to: Long,
      keys: Option[Set[String]] = None,
      tagSchema: StructType = null): Array[InputPartition] = {
    // typed partition-key value (the SPJ alignment handle — a CDC-apply
    // join against a co-keyed table plans with zero Exchange)
    def keyValueOf(raw: String): Any = declared(key).dataType match {
      case LongType => raw.toLong
      case _ => UTF8String.fromString(raw)
    }
    val tagRequired = Option(tagSchema).getOrElse(declared)
    if (from == to) return Array.empty
    // retention resolves FIRST (each end must be a retained snapshot —
    // the more actionable error when both are wrong), then direction
    val a = liveMap(path, log, hconf, from)
    val b = liveMap(path, log, hconf, to)
    require(from <= to,
      s"graft-keyed changes interval is (from, to] with from <= to, " +
        s"got changesFrom=$from > changesTo=$to")
    // plans are per (generation, projection): tagged partitions decode
    // the pruned projection, net partitions the full declared schema
    val tagCache = scala.collection.mutable.Map
      .empty[String, Option[KeyedSource.DirReadPlan]]
    val netCache = scala.collection.mutable.Map
      .empty[String, Option[KeyedSource.DirReadPlan]]
    def tagPlans(dirs: Seq[String]): Seq[Option[KeyedSource.DirReadPlan]] =
      dirs.map(d => planFor(d, log.ops, declared, tagRequired, path, conf, tagCache))
    def netPlans(dirs: Seq[String]): Seq[Option[KeyedSource.DirReadPlan]] =
      dirs.map(d => planFor(d, log.ops, declared, declared, path, conf, netCache))
    (a.keySet ++ b.keySet).toSeq.sorted
      .filter(k => keys.forall(_.contains(k)))
      .flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (Some((da, va)), Some((db, vb))) if da == db && va == vb =>
            None // identical references, identical deletion vectors
          case (Some((da, va)), Some((db, vb)))
              if da == db && va == vb.take(va.length) =>
            // merge-on-read DELETE interval: same files, new dv refs —
            // emit ONLY the newly-deleted ordinals, as 'delete'
            Some(KeyedChangesPartition(k, keyValueOf(k),
              Seq.empty, Seq.empty, db, tagPlans(db),
              emitDvs = vb.drop(va.length)))
          case (Some((da, va)), Some((db, vb)))
              if da == db.take(da.length) && va == vb =>
            // row-level appends: only the delta directories, never the base
            val delta = db.drop(da.length)
            Some(KeyedChangesPartition(k, keyValueOf(k),
              delta, tagPlans(delta), Seq.empty, Seq.empty))
          case (None, Some((db, vb))) =>
            Some(KeyedChangesPartition(k, keyValueOf(k),
              db, tagPlans(db), Seq.empty, Seq.empty, insertApplyDvs = vb))
          case (Some((da, va)), None) =>
            Some(KeyedChangesPartition(k, keyValueOf(k),
              Seq.empty, Seq.empty, da, tagPlans(da), deleteApplyDvs = va))
          case (Some((da, va)), Some((db, vb))) =>
            // rewrite (or compound append+delete): net-diff both
            // DV-APPLIED versions inside the partition
            Some(KeyedChangesPartition(k, keyValueOf(k),
              db, netPlans(db), da, netPlans(da),
              insertApplyDvs = vb, deleteApplyDvs = va))
          case (None, None) => None
        }
      }.toArray[InputPartition]
  }
}

/** Routed by the provider on `metadata=changes` — its relation schema
  * is the layout's plus `_change_type`, which is why (like the
  * snapshots table) it is its own [[Table]]. Batch and micro-batch
  * read; the layout must be generation-committed (the diff is defined
  * on the commit log). */
final class KeyedChangesTable(declared: StructType, path: String, key: String,
    from: Option[String], to: Option[String])
    extends Table with SupportsRead {
  require(path != null, "graft-keyed requires option 'path' (the staged key directory)")
  require(declared.fieldNames.contains(key),
    s"key column '$key' must be part of the declared schema ${declared.simpleString}")
  override def name(): String = s"graft-keyed-changes:$path"
  override def schema(): StructType = KeyedChanges.changesSchema(declared)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new KeyedChangesScanBuilder(declared, path, key, conf, from, to)
  }
}

/** Pushdown for the CDC scan: key-grain filters restrict the diff to a
  * key subset at the PLANNER (a consumer subscribed to one bucket
  * prices its delta at that bucket — the same exact directory grain,
  * same shared consumption algebra as the row scan and DELETE), and
  * column pruning reaches the constant-tagged partitions' decode.
  * NET partitions keep decoding the full schema (a diff over pruned
  * rows would cancel rows differing only in pruned columns) and
  * project at emit. */
final class KeyedChangesScanBuilder(declared: StructType, path: String,
    key: String, conf: org.apache.spark.util.SerializableConfiguration,
    from: Option[String], to: Option[String])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources.Filter

  private var required: StructType = KeyedChanges.changesSchema(declared)
  private var keys: Option[Set[String]] = None
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // raw dirname normalization — the tombstone/DELETE form of the shared
  // key-grain algebra (the planner prunes keys as strings)
  private def rawKeyOf(v: Any): Option[String] =
    declared(key).dataType match {
      case LongType => v match {
        case n: Number => Some(n.longValue.toString); case _ => None }
      case org.apache.spark.sql.types.StringType => v match {
        case s: String => Some(s)
        case u: UTF8String => Some(u.toString)
        case _ => None }
      case _ => None
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter { f =>
      KeyedSource.keyGrainSet(f, key, rawKeyOf) match {
        case Some(constraint) =>
          constraint.foreach(s => keys = Some(keys.fold(s)(_ intersect s)))
          accepted :+= f
          false
        case None => true
      }
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new KeyedChangesScan(declared, required, path, key, conf, from, to, keys)
}

final class KeyedChangesScan(declared: StructType, required: StructType,
    path: String, key: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    fromOpt: Option[String], toOpt: Option[String],
    keys: Option[Set[String]] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** One changed key per partition ([[KeyedChangesPartition.partitionKey]]),
    * so the CDC output reports the SAME KeyGroupedPartitioning as the
    * row table: a CDC-apply joining the delta against a co-keyed
    * layout plans with ZERO Exchange (the SPJ alignment, extended to
    * the maintenance path). Spark falls back on its own when the key
    * was pruned from the output. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity(key)),
      planned.length)

  /** The commit log PINNED once at first use: outputPartitioning and
    * planInputPartitions are separate Spark calls, and a commit landing
    * between them must not make the reported KeyGroupedPartitioning
    * disagree with the actual partition count (or diff a different
    * interval) — the same snapshot-pinning discipline as KeyedScan's
    * SnapshotView. */
  private lazy val pinnedLog: KeyedSource.CommitLog =
    KeyedSource.requireLog(path, conf.value, "changes read")

  /** `required` minus the change tag: what the tagged decode prunes to. */
  private def requiredData: StructType = StructType(
    required.fields.filterNot(_.name == KeyedChanges.ChangeCol))

  /** An interval bound is a snapshot seq OR a tag name (resolved
    * through the log's tag map — a CDC consumer anchors at the named
    * state a training run pinned, not a raw number). */
  private def resolveBound(raw: String): Long =
    try raw.toLong catch {
      case _: NumberFormatException =>
        KeyedSource.resolveTag(path, conf.value, raw)
    }
  private lazy val fromSeq: Long = fromOpt.fold(0L)(resolveBound)
  private lazy val toSeq: Long = toOpt.fold(pinnedLog.head.seq)(resolveBound)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    s"GraftKeyedChanges path=$path from=$fromSeq " +
      s"to=$toSeq" +
      keys.fold("")(s => s" keys=[${s.toSeq.sorted.mkString(",")}]") +
      s" pruned=${required.fieldNames.mkString(",")}" +
      " (net row delta, per-key diff by file reference — unchanged keys" +
      " skipped without IO)"
  }

  /** Planned ONCE against the pinned log and cached — Spark calls both
    * outputPartitioning and planInputPartitions, and the driver-side
    * diff work should not double. */
  private lazy val planned: Array[InputPartition] =
    KeyedChanges.planDiff(path, pinnedLog, conf.value, conf, declared, key,
      fromSeq, toSeq, keys, requiredData)

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedChangesReaderFactory(declared, required, conf)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KeyedChangesStream(declared, required, path, key, conf,
      fromSeq, keys)
}

/** One changed key. Exactly one of the two dir lists is empty for the
  * constant-tagged cases (pure insert / pure delete); both non-empty
  * means a copy-on-write rewrite, net-diffed in the reader. */
final case class KeyedChangesPartition(rawKey: String, keyValue: Any,
    insertDirs: Seq[String], insertPlans: Seq[Option[KeyedSource.DirReadPlan]],
    deleteDirs: Seq[String], deletePlans: Seq[Option[KeyedSource.DirReadPlan]],
    insertApplyDvs: Seq[String] = Seq.empty,
    deleteApplyDvs: Seq[String] = Seq.empty,
    emitDvs: Seq[String] = Seq.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](keyValue))
}

final class KeyedChangesReaderFactory(declared: StructType,
    required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  private def requiredData: StructType = StructType(
    required.fields.filterNot(_.name == KeyedChanges.ChangeCol))
  private def hasTag: Boolean =
    required.fieldNames.contains(KeyedChanges.ChangeCol)

  private def mk(proj: StructType, dirs: Seq[String],
      plans: Seq[Option[KeyedSource.DirReadPlan]])
      : PartitionReader[InternalRow] =
    new ConcatReader(dirs.indices.map(j => () =>
      EvolvedRowReader.forDir(dirs(j), plans(j), declared, proj, conf, -1)))

  /** Apply a side's deletion vectors (rows deleted in that STATE must
    * not appear as that state's content). */
  private def applied(proj: StructType, dirs: Seq[String],
      plans: Seq[Option[KeyedSource.DirReadPlan]],
      dvs: Seq[String]): PartitionReader[InternalRow] = {
    val base = mk(proj, dirs, plans)
    if (dvs.isEmpty) base
    else new PositionedReader(base, KeyedSource.loadDeleted(dvs, conf.value),
      map = null, kind = proj.fields.map(f => KeyedSource.kindOf(f.dataType)))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cp = partition.asInstanceOf[KeyedChangesPartition]
    // one kind code per column (KeyedSource.kindOf — the shared
    // mapping; the old 2-way isLong arrays misread any third type)
    val dataKind = requiredData.fields.map(f => KeyedSource.kindOf(f.dataType))
    if (cp.emitDvs.nonEmpty) {
      // merge-on-read DELETE interval: emit ONLY the newly-deleted
      // ordinals (scanned over the unchanged files), tagged 'delete'
      new DvEmitReader(mk(requiredData, cp.deleteDirs, cp.deletePlans),
        KeyedSource.loadDeleted(cp.emitDvs, conf.value), dataKind,
        if (hasTag) KeyedChanges.Delete else null)
    } else if (cp.deleteDirs.isEmpty || cp.insertDirs.isEmpty) {
      // constant-tagged: decode already pruned to the data projection
      val (dirs, plans, dvs, tag) =
        if (cp.deleteDirs.isEmpty)
          (cp.insertDirs, cp.insertPlans, cp.insertApplyDvs, KeyedChanges.Insert)
        else
          (cp.deleteDirs, cp.deletePlans, cp.deleteApplyDvs, KeyedChanges.Delete)
      new ChangeTagReader(applied(requiredData, dirs, plans, dvs), dataKind,
        if (hasTag) tag else null)
    } else {
      // net diff decodes FULL rows (pruned rows would cancel rows that
      // differ only in pruned columns) and projects at emit; each side
      // reads its own DV-applied state
      val declKind = declared.fields.map(f => KeyedSource.kindOf(f.dataType))
      val outIdx = requiredData.fieldNames.map(declared.fieldIndex)
      new NetDiffReader(
        () => applied(declared, cp.deleteDirs, cp.deletePlans, cp.deleteApplyDvs),
        () => applied(declared, cp.insertDirs, cp.insertPlans, cp.insertApplyDvs),
        declKind, outIdx, hasTag)
    }
  }
}

/** Constant-tagged pass-through: every inner row re-emitted with
  * `_change_type` appended (tag null = the tag column was pruned).
  * Values are OWNED copies (the inner decode may reuse buffers across
  * next()). */
final class ChangeTagReader(inner: PartitionReader[InternalRow],
    kind: Array[Int], tag: UTF8String)
    extends PartitionReader[InternalRow] {
  private val n = kind.length
  private val width = if (tag == null) n else n + 1
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!inner.next()) return false
    val src = inner.get()
    val out = new Array[Any](width)
    var i = 0
    while (i < n) {
      out(i) = KeyedSource.boxOf(src, i, kind(i))
      i += 1
    }
    if (tag != null) out(n) = tag
    current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** Emit ONLY the rows at the given ordinals (a merge-on-read DELETE
  * interval's newly-deleted rows), tagged 'delete' — ordinals count
  * the RAW stream, exactly as the DV writer recorded them. */
final class DvEmitReader(inner: PartitionReader[InternalRow],
    bits: java.util.BitSet, kind: Array[Int], tag: UTF8String)
    extends PartitionReader[InternalRow] {
  private val n = kind.length
  private val width = if (tag == null) n else n + 1
  private var ord = -1
  private var current: InternalRow = _
  override def next(): Boolean = {
    while (inner.next()) {
      ord += 1
      if (bits.get(ord)) {
        val src = inner.get()
        val out = new Array[Any](width)
        var i = 0
        while (i < n) {
          out(i) = KeyedSource.boxOf(src, i, kind(i))
          i += 1
        }
        if (tag != null) out(n) = tag
        current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** NET multiset diff of one rewritten key, local to its partition:
  * drain the old version into a hash multiset (owned values), stream
  * the new version emitting rows absent from the multiset as 'insert'
  * (present ones cancel), then drain the remainder as 'delete'. Memory
  * is one key's OLD rows — the single-key-per-task bound the layout's
  * write path already lives by; a sorted co-merge (O(1) memory when
  * both generations carry the same order marker) is the refinement if
  * that bound ever pinches. */
final class NetDiffReader(oldSide: () => PartitionReader[InternalRow],
    newSide: () => PartitionReader[InternalRow], kind: Array[Int],
    outIdx: Array[Int], hasTag: Boolean)
    extends PartitionReader[InternalRow] {
  private val n = kind.length

  // boxed DOUBLE multiset keys are sound: the writer normalizes NaN
  // and -0.0 (KeyedStats.sortableDouble), so decoded values have one
  // representative per equivalence class and Double.equals matches
  private def vecOf(row: InternalRow): scala.collection.immutable.ArraySeq[Any] = {
    val a = new Array[Any](n)
    var i = 0
    while (i < n) {
      a(i) = KeyedSource.boxOf(row, i, kind(i))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  private val old = scala.collection.mutable.HashMap
    .empty[scala.collection.immutable.ArraySeq[Any], Int]
  locally {
    val r = oldSide()
    try while (r.next()) {
      val v = vecOf(r.get())
      old.update(v, old.getOrElse(v, 0) + 1)
    } finally r.close()
  }

  private var news: PartitionReader[InternalRow] = newSide()
  private var leftover: Iterator[scala.collection.immutable.ArraySeq[Any]] = null
  private var current: InternalRow = _

  private def emit(v: scala.collection.immutable.ArraySeq[Any],
      tag: UTF8String): Unit = {
    // project the full diffed row to the scan's required columns
    val out = new Array[Any](outIdx.length + (if (hasTag) 1 else 0))
    var i = 0
    while (i < outIdx.length) { out(i) = v(outIdx(i)); i += 1 }
    if (hasTag) out(outIdx.length) = tag
    current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override def next(): Boolean = {
    while (news != null) {
      if (news.next()) {
        val v = vecOf(news.get())
        old.get(v) match {
          case Some(c) => // unchanged row: cancels against the old version
            if (c == 1) old.remove(v) else old.update(v, c - 1)
          case None =>
            emit(v, KeyedChanges.Insert)
            return true
        }
      } else {
        news.close(); news = null
        leftover = old.iterator.flatMap { case (v, c) => Iterator.fill(c)(v) }
      }
    }
    if (leftover != null && leftover.hasNext) {
      emit(leftover.next(), KeyedChanges.Delete)
      true
    } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (news != null) { news.close(); news = null }
}

/** Commit-seq offsets over the snapshot log — the streaming leg of the
  * changes table. Each micro-batch (start, end] is the SAME net diff
  * the batch scan plans; offsets checkpoint as seqs; generations are
  * immutable, so replaying an uncommitted batch after restart reads
  * identical bytes (exactly-once). A start offset that fell out of the
  * retention window fails loudly at plan time (liveMap's remediation)
  * — retention IS the maximum consumer lag, the contract Iceberg's
  * streaming reader has with expire-snapshots. */
final class KeyedChangesStream(declared: StructType, required: StructType,
    path: String, key: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    startSeq: Long, keys: Option[Set[String]] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def requiredData: StructType = StructType(
    required.fields.filterNot(_.name == KeyedChanges.ChangeCol))

  private case class SeqOffset(seq: Long) extends Offset {
    override def json(): String = seq.toString
  }

  private def log: KeyedSource.CommitLog =
    KeyedSource.requireLog(path, conf.value, "changes stream")

  // AvailableNow: pin the head ONCE at prepare; the run drains to it
  // and stops, commits landing mid-run wait for the next run
  @volatile private var pinnedHead: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(log.head.seq)

  override def initialOffset(): Offset = SeqOffset(startSeq)
  override def latestOffset(): Offset =
    SeqOffset(pinnedHead.getOrElse(log.head.seq))
  // admission control (SupportsTriggerAvailableNow extends it): no
  // rate limiting — a commit's delta is the natural batch grain
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    KeyedChanges.planDiff(path, log, conf.value, conf, declared, key,
      start.asInstanceOf[SeqOffset].seq, end.asInstanceOf[SeqOffset].seq,
      keys, requiredData)

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedChangesReaderFactory(declared, required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
