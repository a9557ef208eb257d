package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 KEY-GROUPED source (`graft-keyed`) — the
  * storage-partitioned-join (SPJ) successor of q47's catalog-bucketed
  * layout, expressed at the CONNECTOR layer.
  *
  * q47 proves the layout lever through Spark's own catalog: bucketed
  * tables report hashpartitioning and a fact⋈fact join plans with zero
  * Exchange. That works only for tables Spark itself wrote. The DSv2
  * generalization — what Iceberg/Delta do in production — is a
  * connector whose Scan REPORTS its storage partitioning
  * ([[SupportsReportPartitioning]] returning [[KeyGroupedPartitioning]]
  * over `identity(keyColumn)`, one [[HasPartitionKey]] input partition
  * per stored key directory), so Catalyst aligns the two sides by
  * partition VALUE and deletes both shuffles from the join. At 100 TB
  * this is the join class broadcast cannot touch (neither side fits an
  * executor) where even the q45 salting answer still pays two
  * full-table shuffles; here the shuffle was paid ONCE at layout-write
  * time and every subsequent co-keyed join is exchange-free.
  *
  * Layout: `k=<value>/` subdirectories under the staged root, one per
  * distinct key value, US-framed records ([[PageSource]]'s x94
  * sentinel discipline — the decode is [[PageReader]] itself, the
  * connectors share it). The key column is part of the DECLARED schema
  * (option `key` names it); for a high-cardinality join key the stager
  * materializes a bounded surrogate (`kb = doc_id % buckets`) and the
  * join carries `kb` alongside the true key — exactly how bucketed
  * SPJ tables key their layouts when the native bucket-transform
  * function catalog is not in play.
  *
  * The directory structure is also the PREDICATE index: key
  * equality/IN filters push down ([[KeyedScanBuilder.pushFilters]])
  * and prune `k=<v>/` directories at plan time — exact at directory
  * grain, fully consumed, no residual Filter — so a point lookup
  * plans O(matching keys) partitions, not the full key space (q55,
  * plan-audited). Non-key and range predicates are refused and stay
  * post-scan.
  *
  * Session prerequisite: `spark.sql.sources.v2.bucketing.enabled=true`
  * (off ⇒ the report is ignored and plans fall back to ordinary
  * shuffled joins — correctness unchanged, the layout lever unused).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-keyed")
  *     .option("path", stagedDir)
  *     .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
  *     .option("key", "kb")
  *     .load()
  * }}}
  */
class KeyedSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-keyed"

  // a metadata table has its OWN schema (Spark binds the relation to
  // Table.schema(), so this must be decided before getTable — the
  // Iceberg t.snapshots shape, routed by a read option here because
  // the path-based provider has no multi-part identifiers)
  private def metadataTable(options: java.util.Map[String, String]): Option[String] =
    Option(options.get("metadata")).map {
      case ok @ ("snapshots" | "changes") => ok
      case other => throw new IllegalArgumentException(
        s"graft-keyed has no metadata table '$other' (supported: snapshots, changes)")
    }

  private def declaredSchema(options: java.util.Map[String, String]): StructType =
    StructType.fromDDL(Option(options.get("schema")).getOrElse(
      throw new IllegalArgumentException(
        "graft-keyed requires a DECLARED schema (option 'schema', DDL form)")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metadataTable(options) match {
      case Some("changes") =>
        KeyedChanges.changesSchema(declaredSchema(options))
      case Some(_) =>
        declaredSchema(options) // the LAYOUT schema must still parse (the sidecar reads need it)
        KeyedSnapshotsScan.Schema
      case None => declaredSchema(options)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val key = Option(properties.get("key")).getOrElse(
      throw new IllegalArgumentException(
        "graft-keyed requires option 'key' (the layout's key column)"))
    metadataTable(properties) match {
      case Some("changes") =>
        // bounds accept a seq number OR a tag name — resolved at scan
        // build against the log's tag map (KeyedChangesScan.resolveBound)
        new KeyedChangesTable(declaredSchema(properties),
          properties.get("path"), key,
          from = Option(properties.get("changesFrom")),
          to = Option(properties.get("changesTo")))
      case Some(_) =>
        new KeyedSnapshotsTable(declaredSchema(properties),
          properties.get("path"), key)
      case None =>
        new KeyedTable(schema, properties.get("path"), key,
          Option(properties.get("sortBy")).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
          retain = KeyedSource.numericOption(properties.get("retain"),
            "retain", "a snapshot count like retain=2")(_.toInt).getOrElse(1),
          asOf = KeyedSource.numericOption(properties.get("asOf"),
            "asOf", "a snapshot sequence number like asOf=3")(_.toLong),
          asOfTag = Option(properties.get("tag")),
          dmlMode = Option(properties.get("dmlMode")).getOrElse("cow"))
    }
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** The `snapshots` metadata table (read option `metadata=snapshots`):
  * its relation schema is [[KeyedSnapshotsScan.Schema]], not the
  * layout's — which is why it is a separate [[Table]], not a scan
  * branch inside [[KeyedTable]]. */
final class KeyedSnapshotsTable(declared: StructType, path: String, key: String)
    extends Table with SupportsRead {
  require(path != null, "graft-keyed requires option 'path' (the staged key directory)")
  require(declared.fieldNames.contains(key),
    s"key column '$key' must be part of the declared schema ${declared.simpleString}")
  override def name(): String = s"graft-keyed-snapshots:$path"
  override def schema(): StructType = KeyedSnapshotsScan.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedSnapshotsScanBuilder(declared, path, key,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
}

/** BATCH_READ only — NO streaming leg, by analysis (r13 verdict #4;
  * the q51-DPP honesty rule: record the negative instead of shipping
  * machinery the layout cannot back).
  *
  * An incremental source needs offsets that (a) totally order
  * deliveries and (b) pin immutable content per committed interval.
  * The pages connector has both: page ids grow monotonically and a
  * delivered page is never rewritten, so `offset = next page id` is a
  * complete cursor ([[PageMicroBatchStream]]). The keyed layout has
  * NEITHER. Its key space is a fixed, unordered partition domain
  * (kb = hash buckets; arbitrary strings) — there is no monotone "next
  * key" — and its write contract is OVERWRITE-BY-KEY: stageKeyed lays
  * each key down as exactly one file (that one-file-per-key shape IS
  * the batch-read contract, one directory ≙ one aligned partition),
  * so an append to key v arrives as a REWRITE of `k=v/`'s file. A
  * committed offset cannot pin content that mutates in place: replay
  * of an uncommitted batch after restart would read the NEW bytes
  * (exactly-once broken), and a mid-batch rewrite can tear a read.
  * File-grain seen-set tracking (Spark's own FileStreamSource) doesn't
  * rescue it — it assumes immutable files, which overwrite-by-key
  * violates by design.
  *
  * The compositions that DO stream keyed data: ingest increments
  * through the pages connector (the monotone ledger) and re-stage the
  * keyed layout from the drained batch — ledger for deliveries, keyed
  * layout for join geometry; and, since r16, the SNAPSHOT LOG itself
  * streams through the `changes` metadata table
  * ([[KeyedChangesStream]]: commit seqs are the offsets, retained
  * immutable generations pin each interval's bytes — exactly the line
  * Iceberg draws, whose streaming reader walks the snapshot log,
  * never the live partition directories). KeyedSourceSpec pins the
  * ROW-TABLE refusal: `readStream` against this table fails at
  * analysis with Spark's unsupported-streaming error, not deep in an
  * executor. */
final class KeyedTable(declared: StructType, path: String, key: String,
    sortBy: Seq[String] = Nil, retain: Int = 1, asOf: Option[Long] = None,
    asOfTag: Option[String] = None, dmlMode: String = "cow",
    branch: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(dmlMode == "cow" || dmlMode == "mor",
    s"graft-keyed dmlMode must be 'cow' (copy-on-write, default) or 'mor' " +
      s"(merge-on-read position deletes), got '$dmlMode'")

  /** `_graft_pos` — the deletion-vector position (row ordinal within
    * the key's concatenated stream). With the key column it is the
    * merge-on-read row ID ([[KeyedMorDeleteOperation.rowId]]); also
    * selectable directly for layout forensics. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = KeyedSource.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row ordinal within its key's concatenated stream (deletion-vector position)"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = KeyedSource.KeyCol
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "raw key dirname (merge-on-read row-ID component; never null by the framing guard)"
    })
  require(path != null, "graft-keyed requires option 'path' (the staged key directory)")
  require(declared.fieldNames.contains(key),
    s"key column '$key' must be part of the declared schema ${declared.simpleString}")
  require(retain >= 1, s"graft-keyed retain must be >= 1, got $retain")
  require(branch.isEmpty || (asOf.isEmpty && asOfTag.isEmpty),
    "graft-keyed table cannot pin a branch AND a snapshot at once")
  override def name(): String =
    s"graft-keyed:$path" + asOf.fold("")(s => s"@$s") +
      asOfTag.fold("")(t => s"@tag:$t") +
      branch.fold("")(b => s"@branch:$b")
  /** Any snapshot pin — numeric or named — refuses writes/DML. */
  private def pinned: Boolean = asOf.isDefined || asOfTag.isDefined
  private def pinDesc: String =
    asOf.map(_.toString).orElse(asOfTag).getOrElse("")
  override def schema(): StructType = declared
  // TRUNCATE alongside BATCH_WRITE: the write contract IS
  // overwrite-by-generation (KeyedWriteBuilder scaladoc) — Spark maps
  // mode("overwrite") to it; bare appends are refused at plan time
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      // r17: epoch-committed streaming ingest through the same CAS
      // publish as batch writes (KeyedStreamingWrite — the reference's
      // Snowpipe auto-ingest landing in the TRANSACTIONAL table)
      TableCapability.STREAMING_WRITE)
  // analysis-time Hadoop conf capture — same contract as PageTable
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new KeyedScanBuilder(declared, path, key, conf,
      // pruning-aware size/row statistics reported to the planner
      // (KeyedScan.estimateStatistics); false = the A/B escape hatch
      options.getBoolean("reportStats", true),
      // snapshot pin: scan options first (DataFrameReader path —
      // numeric asOf, then named tag), table pin second (catalog
      // VERSION AS OF, numeric or tag — GraftCatalog.loadTable).
      // Tags resolve to their pinned seq HERE, at plan time, so an
      // unknown tag fails with the tag list before any scan exists
      asOf = KeyedSource.numericOption(options.get("asOf"),
        "asOf", "a snapshot sequence number like asOf=3")(_.toLong)
        .orElse(Option(options.get("tag"))
          .map(t => KeyedSource.resolveTag(path, conf.value, t)))
        // branch read: resolve the branch head ONCE at plan time; the
        // scan then pins that seq like any snapshot read (a commit on
        // the branch mid-query cannot tear the plan)
        .orElse(Option(options.get("branch"))
          .map(b => KeyedSource.resolveBranch(path, conf.value, b)))
        .orElse(asOf)
        .orElse(asOfTag.map(t => KeyedSource.resolveTag(path, conf.value, t)))
        // a BRANCH-pinned table reads its branch head (resolved fresh
        // per plan — branch heads move, unlike snapshot pins)
        .orElse(branch.map(b => KeyedSource.resolveBranch(path, conf.value, b))))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (pinned) throw new UnsupportedOperationException(
      s"graft-keyed cannot write through a snapshot pin ($pinDesc): " +
        "historical snapshots are immutable; write to the table head")
    new KeyedWriteBuilder(declared, path, key, sortBy, retain, info, branch)
  }

  /** Row-grain MERGE INTO / UPDATE / DELETE — group-based copy-on-write
    * over affected key directories ([[KeyedRowLevelBuilder]]; the
    * row-grain fallback behind the metadata tombstone delete: Spark's
    * OptimizeMetadataOnlyDeleteFromTable still routes key-grain DELETEs
    * through [[deleteWhere]], zero data movement). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (pinned) throw new UnsupportedOperationException(
      s"graft-keyed cannot rewrite rows through a snapshot pin ($pinDesc): " +
        "historical snapshots are immutable; run the DML against the table head")
    new KeyedRowLevelBuilder(declared, path, key, sortBy, retain, info,
      dmlMode, branch)
  }

  // ── Metadata-grain DELETE (snapshot-log tombstones) ────────────────
  //
  // `DELETE FROM t WHERE key IN (…)` at the layout's exact directory
  // grain: ONE new snapshot naming the SAME generation with the doomed
  // keys added to its tombstone set — zero data bytes moved, zero
  // files rewritten, one atomic log swap (the Iceberg/Delta
  // partition-grain metadata delete; at 100 TB a source retraction or
  // opt-out purge is a metadata write, not a corpus rewrite). Readers
  // prune tombstoned directories exactly like pushed key filters, so
  // every read surface — row scan, SPJ, metadata aggregates,
  // statistics, TopN budgets — sees the deletion consistently
  // (KeyedScanBuilder's snapshot resolution). Retained older snapshots
  // still SEE the deleted keys until they expire — deletion is a new
  // version, not history rewrite — which is what keeps time travel
  // reproducible and makes the purge auditable.
  //
  // Only key-grain predicates are accepted (EqualTo/In on the key,
  // plus the tautological IsNotNull — the framing guard admits no
  // NULL keys — and AlwaysTrue = delete-all/truncate). Anything else
  // (non-key columns, ranges) is refused via canDeleteWhere and Spark
  // raises its own cannot-delete analysis error: a row-grain delete
  // would need a data rewrite this connector deliberately does not do.

  import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, In, IsNotNull}

  private def rawKeyOf(v: Any): Option[String] = declared(key).dataType match {
    case LongType => v match {
      case n: Number => Some(n.longValue.toString); case _ => None }
    case StringType => v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None }
    case _ => None
  }

  /** ANDed raw-key set across the filter array — the SAME consumption
    * algebra as scan pushdown ([[KeyedSource.keyGrainSet]]; one walker
    * for both call sites, so DELETE and partition pruning can never
    * disagree about what is key-exact), normalized to raw dirname
    * strings. None = not consumable; Some(None) = consumable,
    * unconstrained (delete every key); Some(Some(s)) = the key set. */
  private def tombstoneSet(filters: Array[Filter]): Option[Option[Set[String]]] = {
    var acc: Option[Set[String]] = None
    val ok = filters.forall(f =>
      KeyedSource.keyGrainSet(f, key, rawKeyOf) match {
        case Some(Some(s)) => acc = Some(acc.fold(s)(_ intersect s)); true
        case Some(None) => true
        case None => false
      })
    if (ok) Some(acc) else None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && tombstoneSet(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (pinned) throw new UnsupportedOperationException(
      s"graft-keyed cannot delete through a snapshot pin ($pinDesc)")
    val hconf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    // the whole read-compute-publish runs inside the CAS retry loop: a
    // racing commit (overwrite, another delete, a row-level rewrite)
    // swapping the head between our read and our claim makes the loop
    // RECOMPUTE against the fresh head — the stored-key universe and
    // the tombstone base both move with it, so the delete serializes
    // after the winner instead of silently superseding it
    KeyedSource.commitLoop(path, hconf, "DELETE commit") { prior =>
      val log = KeyedSource.requireLog(path, prior, "DELETE")
      // a branch-pinned table tombstones against ITS head — main
      // never sees the deletion until a fastForward publishes it
      val head = branch.fold(log.head)(log.branchHead)
      // every key the head snapshot actually STORES (base generation
      // directories minus tombstones, plus row-level edit keys): the
      // tombstone universe. Asked-for values outside it match no stored
      // row by construction (absent directory, or a string the writer's
      // dirname alphabet refused at stage time), so dropping them is
      // exact — and they must never reach the log, whose
      // comma/US/newline framing an unvalidated string like "a,b" or
      // "x\ny" would silently corrupt (r15 review: that could tombstone
      // unrelated live keys, or brick the table's metadata outright)
      val stored: Set[String] = {
        val gen = new org.apache.hadoop.fs.Path(path, head.gen)
        val fs = gen.getFileSystem(hconf)
        val base = if (fs.exists(gen)) fs.listStatus(gen).toSeq.collect {
          case s if s.isDirectory && s.getPath.getName.startsWith("k=") =>
            s.getPath.getName.stripPrefix("k=")
        }.toSet else Set.empty[String]
        (base -- head.tombstones) ++ head.edits.keySet
      }
      val doomed: Set[String] = tombstoneSet(filters)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-keyed can only delete at key grain, got " +
            filters.mkString(" AND ")))
        // unconstrained (DELETE FROM t / TRUNCATE) deletes every stored
        // key — still metadata-only
        .fold(stored)(_ intersect stored)
      // idempotent no-op: a delete that changes nothing visible (dead
      // keys, never-stored keys) burns no snapshot and cannot expire
      // live history out of the window
      if (doomed.isEmpty) None else {
        // a DELETE carries no write options, so it must never SHRINK
        // the window as a side effect: honor the wider of the log's
        // persisted retain and this table handle's declared one (a
        // catalog table registered with retain=2 over a retain=1
        // layout widens it here)
        Some(log.append(KeyedSource.Snapshot(log.nextSeq, head.gen,
          head.tombstones ++ doomed, head.edits -- doomed,
          head.dvs -- doomed, branch = branch), retain))
      }
    }
  }
}

final class KeyedScanBuilder(full: StructType, path: String, key: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    reportStats: Boolean = true,
    asOf: Option[Long] = None,
    cowHost: Option[KeyedRowLevelHost] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  import org.apache.spark.sql.sources._
  // SNAPSHOT RESOLUTION: the commit log is read ONCE per scan build —
  // every downstream surface (partition listing, sidecar, order
  // marker, statistics) then binds to that snapshot's generation AND
  // tombstone set, so a commit racing this query swaps the log without
  // tearing the plan (readers of the next query resolve the new head).
  // `asOf` pins a retained historical snapshot instead of the head
  // (time travel); an expired seq fails loudly here, at plan time.
  private[sources] val view = KeyedSource.resolveView(path, conf.value, asOf)
  private def root = view.root
  private def tombstones = view.tombstones
  // ONE driver-side sidecar read per scan build, shared by the TopN
  // license, the aggregate pushdown, and the skipping proof (r18
  // review: three pushdown surfaces each re-opened and re-parsed the
  // sidecar — per generation under edits — on every filtered query);
  // the built scan inherits it too, so a whole plan costs one read.
  // `genSidecarMemo` extends the same discipline to the PER-GENERATION
  // parses: file-grain skipping re-proves against the same sidecars
  // readView walked (r19 review), so the two share one memo.
  private val genSidecarMemo =
    scala.collection.mutable.Map.empty[String, Option[KeyedStats.Sidecar]]
  private lazy val viewSidecar: Option[KeyedStats.Sidecar] =
    KeyedStats.readView(view, conf, full, key, genSidecarMemo)
  private var required: StructType = full
  // None = no key predicate pushed (all directories); Some(s) = only
  // directories whose key value ∈ s are planned. Distinct from
  // Some(empty): conflicting equalities (kb=3 AND kb=5) intersect to
  // an EMPTY set — zero partitions, not a fallback to all 16.
  private var keyValues: Option[Set[Any]] = None
  private var accepted: Array[Filter] = Array.empty
  // any filter NOT fully consumed by the exact directory grain — the
  // stats pushdown must refuse (a metadata answer cannot honor a
  // residual predicate); CONSUMED key filters compose instead, unlike
  // the page connector's lossy grain where any filter refuses
  private var sawUnconsumed = false
  // residual (refused) filters, kept for NON-KEY DATA SKIPPING (r18):
  // Spark re-evaluates them post-scan, but the stats sidecar's per-key
  // min/max can additionally PROVE whole directories empty under them
  // (KeyedStats.canMatch) — pruning without consuming, the Iceberg
  // file-skipping shape at directory grain
  private var residualFilters: Array[Filter] = Array.empty
  // set by pushAggregation when the sidecar answers the whole plan
  private var statsPlan: Option[(Boolean, Array[KeyedStats.Stat],
    StructType, Seq[KeyedStats.Entry])] = None
  // set by pushTopN when the layout's stored order can serve the
  // requested one (FULL pushdown — the scan returns at most N rows
  // whose union IS the global top-N, so Spark deletes the Sort)
  private var topN: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** TopN pushdown (r14 verdict #6): `ORDER BY <stored prefix> LIMIT k`
    * used to heap the FULL scan through TakeOrderedAndProject; the
    * write-time sort (order marker) makes the files already the
    * answer. Accepted — fully, so the Sort disappears from the plan —
    * when EVERY condition holds:
    *
    *  - all orders are ASCENDING single-column references forming a
    *    PREFIX of the stored order (key, sortBy…) — or of sortBy alone
    *    when the pushed key filters pruned to a SINGLE directory (the
    *    key is constant there). Null ordering is irrelevant: the
    *    framing guard admits no NULLs into a layout.
    *  - no residual filter survives (it would have to apply BEFORE the
    *    top-N; the scan cannot) and no aggregate was pushed.
    *  - the stats sidecar is present: its per-key counts are what turn
    *    the per-partition caps into a ≤N TOTAL — partitions are
    *    planned in key order and each gets the REMAINING budget after
    *    the counted rows of every earlier directory, so the union of
    *    reader outputs is exactly the global top-N however Spark's
    *    final Limit collects it. No sidecar ⇒ refuse (a per-partition
    *    cap alone could hand Spark 16·N candidates with the Sort
    *    already deleted — wrong rows, not just wasted work).
    *
    * Everything else refuses and Spark keeps its own Sort+Limit. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // a copy-on-write scan must hand Spark the groups' FULL rows
    if (cowHost.isDefined) return false
    if (sawUnconsumed || statsPlan.isDefined || orders.isEmpty) return false
    // the budget arithmetic licenses full pushdown, so per-key counts
    // must be EXACT: the DV-corrected view qualifies when every DV'd
    // key resolved through a stats patch (readView); a pre-r17 dv
    // commit leaves stale counts and refuses until compaction
    viewSidecar match {
      case None => return false
      case Some(sc) => if (sc.unresolvedDvKeys.nonEmpty) return false
    }
    val marker = KeyedSource.readOrderMarkerView(view, conf, full, key)
    if (marker.isEmpty) return false
    val names = orders.toSeq.map { o =>
      o.expression() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            o.direction() == SortDirection.ASCENDING => Some(r.fieldNames()(0))
        case _ => None
      }
    }
    if (names.exists(_.isEmpty)) return false
    val asked = names.flatten
    val stored = key +: marker.get
    val okGlobal = asked == stored.take(asked.length)
    val okSingleDir = keyValues.exists(_.size == 1) &&
      asked == marker.get.take(asked.length)
    if (okGlobal || okSingleDir) { topN = limit; true } else false
  }
  override def isPartiallyPushed(): Boolean = false

  /** Key literal → the exact runtime type partition planning derives
    * from the `k=<v>` directory name, so set membership is comparable.
    * None = a literal the layout cannot answer (wrong type) — refuse
    * the whole filter rather than guess. */
  private def normalize(v: Any): Option[Any] =
    full(full.fieldIndex(key)).dataType match {
      case LongType => v match {
        case n: Number => Some(n.longValue); case _ => None }
      case StringType => v match {
        case s: String => Some(s)
        case u: UTF8String => Some(u.toString)
        case _ => None }
      case _ => None
    }

  /** The shared key-grain consumption algebra ([[KeyedSource.keyGrainSet]])
    * with TYPED normalization — `kb = 3 OR kb = 5` reaches DSv2 as Or,
    * never In; refusing it used to scan all 16 directories for the
    * most natural SQL spelling of a two-key slate. IsNotNull(key) is a
    * tautology over the no-null layout: consumed (prunes nothing)
    * rather than left as a residual Filter that would also block the
    * key column from pruning out of the read schema. */
  private def subtreeKeys(f: Filter): Option[Option[Set[Any]]] =
    KeyedSource.keyGrainSet(f, key, normalize)

  /** Key equality/IN/OR-of-equality predicates prune `k=<v>/`
    * directories at plan time — the connector family's pushdown
    * standard (the PageSource page-grain pattern,
    * `PageSource.pushFilters`) applied at directory grain, where it
    * is EXACT rather than lossy: the layout contract (stageKeyed's
    * `partitionBy(key)` — the SAME placement the SPJ report's
    * [[HasPartitionKey]] already trusts) guarantees directory `k=v`
    * holds exactly the key=v rows, so an accepted filter is FULLY
    * CONSUMED (not returned as residual) and the plan carries no
    * post-scan Filter. A keyed point-lookup against the 16-directory
    * layout plans 1 partition, not 16 — at 100 TB this is the
    * difference between a point read and a full-table scan.
    * Everything else — range predicates, non-key columns, literals of
    * the wrong type — is REFUSED (returned untouched for Spark to
    * evaluate post-scan), BUT refused range/equality shapes still
    * drive NON-KEY DATA SKIPPING at build: directories whose sidecar
    * min/max interval proves the residual unsatisfiable are not
    * planned at all ([[KeyedStats.skippableKeys]] — honor-but-recheck;
    * Spark's post-scan Filter stays, so skipping is an optimization
    * with a proof obligation, never a correctness lever). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter { f =>
      subtreeKeys(f) match {
        case Some(constraint) =>
          constraint.foreach(s =>
            keyValues = Some(keyValues.fold(s)(_ intersect s)))
          accepted :+= f
          false
        case None => true
      }
    }
    if (residual.nonEmpty) sawUnconsumed = true
    residualFilters ++= residual
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Metadata-answered aggregates (KeyedStats scaladoc, the Iceberg
    * manifest-stats shape): COUNT/MIN/MAX/SUM — bare or grouped by
    * the layout key — answer from the `_graft_keyed_stats` sidecar
    * with zero data files opened, composing with CONSUMED key
    * filters (exact directory grain prunes sidecar entries exactly
    * like it prunes directories). PARTIAL pushdown: one row per
    * surviving key, Spark's final aggregate merges — which also makes
    * AVG metadata-answerable, since Spark decomposes it to sum/count
    * before pushing). Refused whenever
    * a residual filter survives (a metadata answer cannot honor it),
    * the aggregate set is not fully stats-answerable (DISTINCT,
    * SUM of STRING, non-key grouping), or the sidecar is absent or
    * disagrees with the declared schema + key (foreign or
    * foreign-mutated layout — metadata trust is part of stageKeyed's
    * write contract). */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (cowHost.isDefined || sawUnconsumed) return false
    KeyedStatsScan.translate(agg, full, key) match {
      case Some((groupByKey, stats, schema)) =>
        // Deletion vectors: readView already serves DV-corrected
        // entries — patched keys carry EXACT post-delete min/max/sum
        // (the DV commit's stats patch, r17) and fully-deleted keys
        // drop. Only a key a pre-r17 dv commit touched last has no
        // patch: its count stays exact (dv filenames carry their
        // cardinality) but min/max/sum still include deleted rows, so
        // non-count aggregates refuse exactly for those views.
        viewSidecar match {
          case Some(sc) =>
            if (sc.unresolvedDvKeys.nonEmpty &&
                !stats.forall(_.isInstanceOf[KeyedStats.CountStat]))
              return false
            statsPlan = Some((groupByKey, stats, schema, sc.entries))
            true
          case None => false
        }
      case None => false
    }
  }

  override def build(): Scan = statsPlan match {
    case Some((groupByKey, stats, schema, entries)) =>
      // CONSUMED key filters prune sidecar entries with the same
      // normalize-to-directory-name comparison partition planning
      // uses — the sidecar is the directory listing's metadata twin.
      // Tombstoned keys (snapshot-log deletes) prune FIRST: a deleted
      // directory must not answer from metadata any more than from data
      val keyField = full(full.fieldIndex(key))
      val visible = entries.filterNot(e => tombstones.contains(e.rawKey))
      val surviving = keyValues.fold(visible) { set =>
        visible.filter(e => keyField.dataType match {
          case LongType => set.contains(e.rawKey.toLong)
          case _ => set.contains(e.rawKey)
        })
      }
      new KeyedStatsScan(schema, root, key, keyField.dataType,
        groupByKey, stats, surviving)
    case None =>
      // NON-KEY DATA SKIPPING (r18): residual predicates prune
      // directories whose sidecar interval PROVES them empty — only
      // under a trusted sidecar (readView's header match; None = no
      // skipping, plan everything), with unresolved-DV keys refused
      // inside skippableKeys. Composes with everything downstream:
      // tombstones/edits are already folded into the view's entries,
      // and key-grain + runtime pruning intersect in the scan.
      val skipKeys: Set[String] =
        if (residualFilters.isEmpty) Set.empty
        else viewSidecar.fold(Set.empty[String])(
          sc => KeyedStats.skippableKeys(sc, residualFilters.toSeq, full))
      // FILE-grain skipping (r19): inside KEPT multi-generation keys,
      // drop individual generation dirs whose per-(key, generation)
      // entry proves the residuals empty. Never for a row-level
      // operation's scan (group-based COW must hand the rewrite the
      // groups' FULL rows — the condition only selects groups, the
      // survivors must all be read) — the same reason pushTopN
      // refuses cowHost.
      val fileSkip: Map[String, Set[String]] =
        if (residualFilters.isEmpty || cowHost.isDefined) Map.empty
        else KeyedStats.skippableFiles(view, conf, full, key,
          residualFilters.toSeq, skipKeys, genSidecarMemo)
      val scan = new KeyedScan(full, required, view, key, conf, keyValues,
        reportStats, topN, skipKeys, () => viewSidecar, fileSkip)
      // a row-level operation's commit replaces (cow) or amends (mor)
      // exactly what this scan resolves — hand it the instance (last
      // build wins; Spark builds one scan per operation)
      cowHost.foreach(_.registerScan(scan))
      scan
  }
}

/** One `k=<v>/` directory ≙ one input partition carrying its key value
  * ([[HasPartitionKey]]); the scan reports [[KeyGroupedPartitioning]]
  * over `identity(key)` so two co-keyed scans join shuffle-free.
  *
  * The report degrades honestly: if column pruning removed the key
  * column, the clustering expression could not resolve against the
  * output and Spark would fall back to unknown partitioning on its
  * own — a co-keyed JOIN always projects the key, so the fallback
  * only fires for plans that never needed the alignment.
  *
  * RUNTIME filtering ([[SupportsRuntimeFiltering]], q57): when the
  * pruning predicate exists only in DIMENSION DATA (dim.kind =
  * 'focus' — no literal key in the query text), Spark executes the
  * dim side first, converts the matched join keys into an IN filter,
  * and hands it here at EXECUTION time; `filter()` intersects it
  * into the same directory-grain prune the static path uses, and
  * BatchScanExec re-plans partitions. This is the connector-side
  * dynamic partition pruning — q51's lever generalized from Spark's
  * own file source to a DSv2 source, the Iceberg production shape.
  * Pruning here is an OPTIMIZATION, never correctness: a partition
  * the filter fails to prune only feeds rows the join itself drops,
  * so unrecognized runtime filters are ignored rather than refused. */
class KeyedScan(full: StructType, required: StructType,
    private[sources] val view: KeyedSource.SnapshotView,
    key: String, conf: org.apache.spark.util.SerializableConfiguration,
    keyValues: Option[Set[Any]] = None,
    reportStats: Boolean = true, topN: Int = -1,
    skipKeys: Set[String] = Set.empty,
    sidecarOf: () => Option[KeyedStats.Sidecar] = null,
    fileSkip: Map[String, Set[String]] = Map.empty)
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** Report the WRITE-TIME sort order ([[KeyedSource.stageKeyed]]'s
    * `sortBy`, recorded in the `_graft_keyed_order` marker) so a
    * co-keyed SMJ plans with zero Sort on top of the SPJ report's
    * zero Exchange — the layout paid both, once, at write time. The
    * claim is per input partition (one key directory, one file, read
    * sequentially by the frame decode), and it is only made where
    * it is provably TRUE and RESOLVABLE: no marker / foreign layout ⇒
    * empty; the key leads only while it survives column pruning
    * (Spark resolves these expressions against the scan OUTPUT — the
    * filterAttributes lesson); a sort column pruned mid-prefix
    * truncates the claim there (a lexicographic suffix is only
    * ordered under the prefix that precedes it). Dropping the key is
    * exact: the key is CONSTANT within a partition, so the stored
    * (key, sortBy…) order and the reported (sortBy…) order coincide
    * per partition. */
  private def tombstones = view.tombstones

  /** The builder's sidecar read, inherited (direct construction in
    * specs reads its own, once) — every stats/TopN surface of this
    * scan answers from it. */
  private lazy val viewSidecar: Option[KeyedStats.Sidecar] =
    if (sidecarOf == null) KeyedStats.readView(view, conf, full, key)
    else sidecarOf()

  /** The decode projection: `required` minus the metadata columns
    * (the frame decoder knows only stored columns; position and raw
    * key are appended by [[PositionedReader]]). */
  private[sources] def dataRequired: StructType = StructType(
    required.fields.filterNot(f =>
      f.name == KeyedSource.PosCol || f.name == KeyedSource.KeyCol))
  private[sources] def emitMeta: Boolean =
    required.fieldNames.contains(KeyedSource.PosCol) ||
      required.fieldNames.contains(KeyedSource.KeyCol)

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    KeyedSource.readOrderMarkerView(view, conf, full, key).fold(
      Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]) { sortBy =>
      val surviving = required.fieldNames.toSet
      val lead = if (surviving.contains(key)) Seq(key) else Seq.empty
      val prefix = sortBy.takeWhile(surviving.contains)
      (lead ++ prefix).map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
    }

  /** Connector-reported, PRUNING-AWARE statistics — the planner-side
    * payoff of the layout: without this a DSv2 read costs
    * `spark.sql.defaultSizeInBytes` (effectively infinite) and
    * Catalyst can never auto-broadcast a keyed table, however small
    * its pruned read actually is. `sizeInBytes` sums the file bytes
    * of the SURVIVING directories (the same listing partition
    * planning uses, so a pushed `kb = 3` shrinks the estimate 16×
    * — a point-pruned read drops under the broadcast threshold even
    * when the full layout is far above it, which is exactly how an
    * Iceberg scan's stats behave after partition pruning) and
    * `numRows` answers from the stats sidecar when one matches (the
    * KeyedStats trust rule; absent or mismatched ⇒ empty, size-only).
    * The static estimate also beats AQE's runtime rescue for this
    * class: AQE can only convert the join AFTER the map-side shuffle
    * files of the first stage are written, a plan-time broadcast
    * never stages them. `reportStats=false` is the A/B escape hatch
    * (ReportStatisticsSpec pins both plans, values identical). */
  /** Memoized per effective key set (r14 ADVICE: Catalyst may request
    * statistics several times per plan, and the listing + one
    * getContentSummary RPC per surviving directory + sidecar parse are
    * driver-side metadata I/O worth paying once). The cache key is the
    * pruned set because runtime filtering legitimately changes the
    * answer mid-plan; the scan is per-query, so the map stays tiny. */
  private val statsCache = scala.collection.concurrent.TrieMap
    .empty[Option[Set[Any]], (java.util.OptionalLong, java.util.OptionalLong,
      java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics])]

  /** Pruning-aware (bytes, rows, per-column stats) — see the
    * [[estimateStatistics]] scaladoc for the planner contract. Column
    * statistics come from the v2 sidecar's table line: per-column KMV
    * distinct counts (capped by surviving rows under pruning; the KEY
    * column's NDV is the surviving directory count, exact), min/max
    * for BIGINT columns from the surviving entries, zero null counts
    * (the framing guard's invariant) — the inputs CBO's join-reorder
    * cardinality estimation needs from a pure-connector leaf (q61). */
  private def computeStats(pruned: Option[Set[Any]]): (java.util.OptionalLong,
      java.util.OptionalLong,
      java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]) = {
    val empty = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (!reportStats)
      return (java.util.OptionalLong.empty(), java.util.OptionalLong.empty(), empty)
    val fs = new org.apache.hadoop.fs.Path(view.root).getFileSystem(conf.value)
    val size = partitions.flatMap(p =>
      p.asInstanceOf[KeyedPartition].dirs.map(d => fs.getContentSummary(
        new org.apache.hadoop.fs.Path(d)).getLength)).sum
    val keyField = full(full.fieldIndex(key))
    val sidecar = viewSidecar
    val surviving = sidecar.map { sc =>
      val visible = sc.entries.filterNot(e => tombstones.contains(e.rawKey))
        // skipped directories are not planned, so their rows must not
        // inflate the estimate either (skipping shrinks joins under
        // the broadcast threshold exactly like key pruning does)
        .filterNot(e => skipKeys.contains(e.rawKey))
      pruned.fold(visible) { set =>
        visible.filter(e => keyField.dataType match {
          case LongType => set.contains(e.rawKey.toLong)
          case _ => set.contains(e.rawKey)
        })
      }
    }
    // readView already DV-corrects entry counts (patch or filename
    // cardinality), so the estimate is a plain sum; min/max/NDV stay
    // estimates for unpatched keys only
    val rows = surviving.map(_.map(_.count).sum)
    val colStats = empty
    for (sc <- sidecar; t <- sc.table; entries <- surviving) {
      val rowCount = rows.getOrElse(0L)
      full.fields.zipWithIndex.foreach { case (f, i) =>
        val ndv =
          if (f.name == key) entries.length.toLong // exact under pruning
          else math.min(t.ndvs(i), math.max(rowCount, 1L))
        val (mn, mx): (java.util.Optional[Object], java.util.Optional[Object]) =
          if ((KeyedStats.numeric(f.dataType) || KeyedStats.fp(f.dataType)) &&
              entries.nonEmpty) {
            val lo = entries.map(_.mins(i).toLong).min
            val hi = entries.map(_.maxs(i).toLong).max
            def box(v: Long): Object = f.dataType match {
              case LongType => Long.box(v)
              case org.apache.spark.sql.types.DoubleType =>
                Double.box(KeyedStats.unsortableDouble(v))
              case org.apache.spark.sql.types.FloatType =>
                Float.box(KeyedStats.unsortableFloat(v.toInt))
              case _ => Int.box(v.toInt)
            }
            (java.util.Optional.of(box(lo)), java.util.Optional.of(box(hi)))
          } else (java.util.Optional.empty(), java.util.Optional.empty())
        colStats.put(Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
            override def min(): java.util.Optional[Object] = mn
            override def max(): java.util.Optional[Object] = mx
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(0L)
          })
      }
    }
    (java.util.OptionalLong.of(size),
      rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of),
      colStats)
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val (bytes, rows, cols) =
      statsCache.getOrElseUpdate(effectiveKeys, computeStats(effectiveKeys))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftKeyed path=${view.root} key=$key pruned=${required.fieldNames.mkString(",")}" +
      keyValues.fold("")(s =>
        s" keys=[${s.toSeq.map(_.toString).sorted.mkString(",")}]") +
      (if (skipKeys.nonEmpty) s" skipped=${skipKeys.size}" else "") +
      (if (fileSkip.nonEmpty && !emitMeta)
        s" skippedFiles=${fileSkip.valuesIterator.map(_.size).sum}" else "") +
      (if (topN >= 0) s" topN=$topN" else "") +
      (if (tombstones.nonEmpty) s" tombstones=${tombstones.size}" else "") +
      (if (view.edits.nonEmpty) s" edits=${view.edits.size}" else "") +
      (if (view.dvs.nonEmpty) s" dvs=${view.dvs.size}" else "")

  // runtime key set (EXECUTION-time DPP), intersected with the static
  // pushed set; @volatile — filter() runs on the driver before the
  // scheduler plans partitions, but not necessarily the same thread
  @volatile private var runtimeKeys: Option[Set[Any]] = None

  // advertise runtime filtering ONLY while the key column survives in
  // the read schema: Spark resolves filterAttributes against the scan
  // OUTPUT (PartitionPruning.getFilterableTableScan), so a pruned-out
  // key would fail analysis outright — found by ReportStatisticsSpec's
  // hint-free join, where the probe side projects the key away and
  // the planner still probes the scan for filterability. Degrading to
  // "not runtime-filterable" is exact: an execution-time IN on a
  // column the scan does not even emit has nothing to attach to, and
  // the join itself drops unmatched rows either way.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains(key)) Array(Expressions.column(key))
    else Array.empty

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val keyField = full(full.fieldIndex(key))
    def normalize(v: Any): Option[Any] = keyField.dataType match {
      case LongType => v match { case n: Number => Some(n.longValue); case _ => None }
      case StringType => v match {
        case s: String => Some(s)
        case u: UTF8String => Some(u.toString)
        case _ => None }
      case _ => None
    }
    filters.foreach {
      case In(a, vs) if a == key && vs != null =>
        val ns = vs.filter(_ != null).map(normalize)
        if (ns.forall(_.isDefined)) {
          val s = ns.flatten.toSet
          runtimeKeys = Some(runtimeKeys.fold(s)(_ intersect s))
        }
      case EqualTo(a, v) if a == key =>
        normalize(v).foreach(n =>
          runtimeKeys = Some(runtimeKeys.fold(Set(n))(_ intersect Set(n))))
      case _ => () // unpruned partitions are dropped by the join itself
    }
  }

  private def effectiveKeys: Option[Set[Any]] = (keyValues, runtimeKeys) match {
    case (Some(a), Some(b)) => Some(a intersect b)
    case (a, b) => a.orElse(b)
  }

  /** Per-generation evolved-read plan, resolved once per scan (the
    * required projection is fixed at build). Only consulted when the
    * snapshot carries schema-evolution ops: an op-free layout keeps the
    * exact pre-evolution read path, byte for byte. A generation whose
    * written schema already equals the declared one reads identity
    * (None); otherwise the lineage maps old names/defaults
    * ([[KeyedSource.evolvedPlan]] — loud on type drift). A generation
    * with no readable sidecar cannot recover its written schema under
    * an evolved declaration and fails loudly rather than decode
    * positionally against the wrong arity. */
  private val dirPlanCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[KeyedSource.DirReadPlan]]
  private def planFor(dir: String): Option[KeyedSource.DirReadPlan] = {
    if (view.ops.isEmpty) return None
    val genRoot = new org.apache.hadoop.fs.Path(dir).getParent.toString
    dirPlanCache.getOrElseUpdate(genRoot,
      KeyedStats.writtenSchema(genRoot, conf) match {
        case Some(w) =>
          val same = w.fields.map(f => (f.name, f.dataType)).toSeq ==
            full.fields.map(f => (f.name, f.dataType)).toSeq
          if (same) None
          else Some(KeyedSource.evolvedPlan(genRoot, w, dataRequired, view.ops))
        case None => throw new IllegalStateException(
          s"graft-keyed layout at ${view.layoutPath} has schema-evolution " +
            s"lineage but the generation at $genRoot has no readable stats " +
            "sidecar to recover its written schema — cannot map; restage")
      })
  }

  // a DEF, not a lazy val: BatchScanExec re-plans partitions after
  // runtime filter() mutates the scan — a cached listing would serve
  // the pre-filter set and silently undo the prune
  private def partitions: Array[InputPartition] = {
    val keyField = full(full.fieldIndex(key))
    val pruned = effectiveKeys
    // the snapshot view IS the listing: base-generation `k=` dirs with
    // tombstones pruned (metadata-grain deletes are invisible at this
    // snapshot, whatever filters the query pushed) and row-level edits
    // overriding/extending per key (files referenced from their own
    // generations — copy-on-write never copied the unchanged ones).
    // Key pruning happens on the raw directory name (the same string
    // the stager wrote), BEFORE the UTF8String conversion — the
    // listing is the predicate index, for static and runtime keys alike
    view.liveKeyDirs(conf.value)
      // non-key skipping (r18): drop directories the sidecar PROVED
      // empty under the residual predicates — by raw dirname, the same
      // grain as key pruning; keys without a proof always plan
      .filterNot { case (raw, _) => skipKeys.contains(raw) }
      .filter { case (raw, _) =>
        pruned.forall { set =>
          keyField.dataType match {
            case LongType => set.contains(raw.toLong)
            case _ => set.contains(raw)
          }
        }
      }
      // FILE-grain skipping (r19): drop generation dirs of KEPT keys
      // whose per-generation entry proved the residuals empty —
      // except when the scan emits metadata columns (`_graft_pos`
      // ordinals count the FULL concatenated stream; a dropped middle
      // file would shift them). A key whose every dir is proven empty
      // drops entirely — the same answer key-grain skipping gives.
      .flatMap { case (raw, dirs0) =>
        val dirs =
          if (emitMeta) dirs0
          else fileSkip.get(raw).fold(dirs0)(drop => dirs0.filterNot(d =>
            drop.contains(new org.apache.hadoop.fs.Path(d).getParent.getName)))
        if (dirs.isEmpty) None else Some((raw, dirs))
      }
      .map { case (raw, dirs) =>
        val v: Any = keyField.dataType match {
          case LongType => raw.toLong
          case StringType => UTF8String.fromString(raw)
          case other => throw new IllegalArgumentException(
            s"graft-keyed supports BIGINT and STRING keys, got $other")
        }
        KeyedPartition(dirs, v, plans = dirs.map(planFor),
          dvPaths = view.dvPathsOf(raw))
      }
      .sortBy(_.dirs.head)
      .toArray[InputPartition]
  }

  /** Pushed-TopN planning: surviving directories in TYPED key order
    * (numeric for BIGINT — "k=10" sorts after "k=2" — byte order for
    * the ASCII dirname charset), each carrying the REMAINING row
    * budget after the sidecar-counted rows of every earlier directory;
    * directories past the budget aren't planned at all. The union of
    * the readers' outputs is then EXACTLY the global top-N — at most N
    * rows total — which is what licenses the full pushdown
    * (KeyedScanBuilder.pushTopN scaladoc). The sidecar was verified
    * present at push time; an entry missing for a LISTED directory is
    * corruption of connector-owned metadata and fails loudly. */
  private def topNPartitions(base: Array[InputPartition]): Array[InputPartition] = {
    val counts = viewSidecar
      .fold(Map.empty[String, Long])(_.entries.map(e => e.rawKey -> e.count).toMap)
    val keyField = full(full.fieldIndex(key))
    val sorted = base.map(_.asInstanceOf[KeyedPartition]).sortBy { kp =>
      kp.keyValue match {
        case l: java.lang.Long => (l.longValue, "")
        case u: UTF8String => (0L, u.toString)
        case other => (0L, other.toString)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var remaining = topN.toLong
    sorted.foreach { kp =>
      if (remaining > 0) {
        val raw = keyField.dataType match {
          case LongType => kp.keyValue.asInstanceOf[java.lang.Long].toString
          case _ => kp.keyValue.toString
        }
        counts.get(raw) match {
          case None if view.dvs.contains(raw) =>
            // every live row DV-deleted: the directory contributes
            // nothing — skip it, budget unchanged
            ()
          case None => throw new IllegalStateException(
            s"graft-keyed stats sidecar at ${view.root} has no entry for key=$raw " +
              "but the directory exists — layout/metadata desync, refusing the TopN plan")
          case Some(n) =>
            out += kp.copy(limit = math.min(remaining, Int.MaxValue.toLong).toInt)
            remaining -= n
        }
      }
    }
    out.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (topN >= 0) topNPartitions(partitions) else partitions

  /** The raw key dirnames of the FINAL planned partitions (static
    * pushdown ∩ runtime group filter) — for a copy-on-write commit,
    * exactly the affected-group set whose files the new snapshot
    * replaces. Read at commit time, strictly after execution, so the
    * runtime filter state is final. */
  private[sources] def plannedRawKeys: Set[String] =
    partitions.map { p =>
      p.asInstanceOf[KeyedPartition].keyValue match {
        case l: java.lang.Long => l.toString
        case other => other.toString
      }
    }.toSet

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity(key)), planInputPartitions().length)

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedReaderFactory(full, required, conf)
}

/** Serializable key partition; `partitionKey` is the stored key VALUE —
  * what Spark aligns the two join sides by. `dirs` is the ordered list
  * of directories serving the key (one for plain layouts; several when
  * row-level edits APPENDED a generation — read concatenated in list
  * order). `limit` caps the reader's decode (pushed TopN budget; -1 =
  * unlimited; only ever set on single-dir partitions — the TopN
  * license requires the single-file order claim). */
final case class KeyedPartition(dirs: Seq[String], keyValue: Any,
    limit: Int = -1,
    plans: Seq[Option[KeyedSource.DirReadPlan]] = Seq.empty,
    dvPaths: Seq[String] = Seq.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](keyValue))
}

object EvolvedRowReader {
  /** The reader of one keyed directory: the frame decode ([[PageReader]])
    * by the declared schema, or — for an evolved generation — by its
    * WRITTEN schema (the file's own arity), projected to the
    * lineage-resolved columns and mapped to the declared output. */
  def forDir(dir: String, plan: Option[KeyedSource.DirReadPlan],
      full: StructType, required: StructType,
      conf: org.apache.spark.util.SerializableConfiguration,
      limit: Int): PartitionReader[InternalRow] =
    plan match {
      case None => new PageReader(dir, full, required, conf, limit)
      case Some(p) => new EvolvedRowReader(new PageReader(dir,
        KeyedSource.ddlToSchema(p.fileDdl), KeyedSource.ddlToSchema(p.innerDdl),
        conf, limit), p)
    }
}

/** Maps an evolved generation's decoded rows to the declared output:
  * file-resolved columns stream through from the inner decoder (in
  * plan order), added-by-evolution columns fill from their recorded
  * defaults. Constants are parsed once at open. */
final class EvolvedRowReader(inner: PartitionReader[InternalRow],
    plan: KeyedSource.DirReadPlan) extends PartitionReader[InternalRow] {
  private val n = plan.fromFile.length
  // 0 = BIGINT (includes widened INT→BIGINT — the inner projection
  // already decodes promoted, same digits), 1 = STRING, 2 = INT,
  // 3 = DOUBLE, 4 = FLOAT. A FLOAT→DOUBLE widening can NOT ride the
  // same-digits trick (sortable-int vs sortable-long domains differ),
  // so the inner projection decodes the stored FLOAT and
  // `fpPromote` marks the output columns promoted HERE — exact, every
  // float is exactly a double.
  private val innerKind: Array[Int] =
    KeyedSource.ddlToSchema(plan.innerDdl).fields.map(f =>
      KeyedSource.kindOf(f.dataType))
  private val consts: Array[Any] = Array.tabulate[Any](n)(i =>
    if (plan.fromFile(i)) null
    else if (plan.constIsLong(i)) java.lang.Long.valueOf(plan.constVals(i).toLong)
    else UTF8String.fromString(plan.constVals(i)))
  private val promote: Array[Boolean] =
    if (plan.fpPromote == null) new Array[Boolean](n) else plan.fpPromote
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!inner.next()) return false
    val src = inner.get()
    val out = new Array[Any](n)
    var i = 0
    var j = 0
    while (i < n) {
      if (plan.fromFile(i)) {
        out(i) = innerKind(j) match {
          case 0 => Long.box(src.getLong(j))
          case 2 => Int.box(src.getInt(j))
          case 3 => Double.box(src.getDouble(j))
          case 4 =>
            if (promote(i)) Double.box(src.getFloat(j).toDouble)
            else Float.box(src.getFloat(j))
          case _ => src.getUTF8String(j)
        }
        j += 1
      } else out(i) = consts(i)
      i += 1
    }
    current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** Sequential concatenation of per-directory readers — a multi-gen key
  * is one partition (the SPJ alignment is by KEY), its files decoded
  * back to back. Readers open LAZILY so at most one holds buffers. */
final class ConcatReader(makers: Seq[() => PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var i = 0
  private var cur: PartitionReader[InternalRow] = if (makers.nonEmpty) makers.head() else null
  override def next(): Boolean = {
    while (cur != null) {
      if (cur.next()) return true
      cur.close(); i += 1
      cur = if (i < makers.length) makers(i)() else null
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Deletion-vector application + metadata emission over a key's
  * concatenated row stream: counts the ordinal of EVERY decoded row,
  * skips ordinals in the deletion bitset, and (for merge-on-read row
  * IDs / forensics) projects the output through `map` — `>= 0` copies
  * that decoded column, [[PositionedReader.Pos]] emits the ordinal,
  * [[PositionedReader.Key]] the raw key dirname. Pass-through when
  * `map` is null (apply-only) — rows are not copied. */
final class PositionedReader(inner: PartitionReader[InternalRow],
    deleted: java.util.BitSet, map: Array[Int], kind: Array[Int],
    rawKey: UTF8String = null, limit: Int = -1)
    extends PartitionReader[InternalRow] {
  private var ord = -1
  private var emitted = 0
  private var current: InternalRow = _
  override def next(): Boolean = {
    // a TopN budget on a DV'd key counts LIVE rows (the budget math
    // subtracts DV-corrected counts), so the limit applies here —
    // after the ordinal skip — not in the raw decode
    if (limit >= 0 && emitted >= limit) return false
    while (inner.next()) {
      ord += 1
      if (deleted == null || !deleted.get(ord)) {
        if (map != null) {
          val src = inner.get()
          val out = new Array[Any](map.length)
          var i = 0
          while (i < map.length) {
            out(i) = map(i) match {
              case PositionedReader.Pos => Long.box(ord.toLong)
              case PositionedReader.Key => rawKey
              case j => kind(j) match {
                case 0 => Long.box(src.getLong(j))
                case 2 => Int.box(src.getInt(j))
                case 3 => Double.box(src.getDouble(j))
                case 4 => Float.box(src.getFloat(j))
                case _ => src.getUTF8String(j).clone()
              }
            }
            i += 1
          }
          current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
        } else current = inner.get()
        emitted += 1
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

object PositionedReader {
  val Pos: Int = -1
  val Key: Int = -2
}

final class KeyedReaderFactory(full: StructType, required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  /** Decode projection (stored columns only) and the output map from
    * `required` — metadata columns resolve to ordinal/raw-key
    * emission, everything else to its decoded index. */
  private val dataRequired: StructType = StructType(
    required.fields.filterNot(f =>
      f.name == KeyedSource.PosCol || f.name == KeyedSource.KeyCol))
  private val emitMeta: Boolean = required.length != dataRequired.length
  private val outMap: Array[Int] = required.fields.map {
    case f if f.name == KeyedSource.PosCol => PositionedReader.Pos
    case f if f.name == KeyedSource.KeyCol => PositionedReader.Key
    case f => dataRequired.fieldIndex(f.name)
  }
  // 0 = BIGINT, 1 = STRING, 2 = INT (the widening source type),
  // 3 = DOUBLE, 4 = FLOAT (r19 sortable-bits columns)
  private val dataKind: Array[Int] = dataRequired.fields.map(f =>
    KeyedSource.kindOf(f.dataType))
  // decode IS the page decode — the connectors share the US-framed
  // line format and its one decoder, PageReader; the partition's limit
  // (pushed TopN budget) stops the decode mid-payload exactly like the
  // pages connector's pushed LIMIT
  private def rowReader(kp: KeyedPartition, j: Int,
      lim: Int): PartitionReader[InternalRow] =
    EvolvedRowReader.forDir(kp.dirs(j), kp.plans.lift(j).flatten, full,
      dataRequired, conf, lim)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val kp = partition.asInstanceOf[KeyedPartition]
    // a DV'd key's TopN budget counts LIVE rows: the raw decode runs
    // unbudgeted (bounded by the one directory) and PositionedReader
    // stops at the live-row limit after the ordinal skip
    val rawLim = if (kp.dvPaths.nonEmpty) -1 else kp.limit
    val base =
      if (kp.dirs.length == 1) rowReader(kp, 0, rawLim)
      else {
        require(kp.limit < 0, "TopN budgets never plan multi-directory partitions")
        new ConcatReader(kp.dirs.indices.map(j => () => rowReader(kp, j, -1)))
      }
    if (kp.dvPaths.isEmpty && !emitMeta) base
    else new PositionedReader(base,
      if (kp.dvPaths.nonEmpty) KeyedSource.loadDeleted(kp.dvPaths, conf.value)
      else null,
      if (emitMeta) outMap else null, dataKind,
      rawKey = UTF8String.fromString(kp.keyValue match {
        case u: UTF8String => u.toString
        case other => other.toString
      }),
      limit = if (kp.dvPaths.nonEmpty) kp.limit else -1)
  }
}

object KeyedSource {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Stage `df` under `out` as a `k=<v>/` keyed layout (US-framed,
    * one file per key — the write-once shuffle that every later
    * co-keyed join amortizes). The key column must be BIGINT or a
    * STRING over [A-Za-z0-9_.-] (it becomes a directory name); the
    * framing guard matches [[PageSource.stageDocuments]].
    *
    * Since r15 this IS the connector's own transactional write path
    * ([[KeyedWriteBuilder]] — write-audit-publish; the r14 verdict-#3
    * promotion of the side utility to a DSv2 `SupportsWrite`): rows
    * stage into an uncommitted generation directory, the stats sidecar
    * and order marker are derived in the writers from exactly the rows
    * written and land inside the SAME commit, and the commit becomes
    * visible when it claims the next versioned log file
    * `_graft_keyed_commit.v<seq>` by atomic exclusive create (the CAS
    * in [[commitLoop]]) — a crash anywhere before the claim leaves the
    * previous generation fully live.
    *
    * `sortBy` is the SECOND half of paying at write time: with it,
    * each key's file is written sorted ascending by those columns
    * (key first, constant per file, then `sortBy` lexicographically)
    * and the layout records the order — WITH column types, the stats
    * sidecar's schemaTag discipline — in a `_graft_keyed_order`
    * marker. [[KeyedScan.outputOrdering]] then reports the stored
    * order to the planner and a co-keyed sort-merge join plans with
    * ZERO Exchange AND ZERO Sort — at 100 TB the per-partition sort
    * is the dominant CPU of an SMJ after the shuffle is already
    * amortized, and like the shuffle it only needs paying once, at
    * layout-write time. Empty `sortBy` (the default) commits a
    * generation with no marker, so a re-stage can never leave a stale
    * ordering claim behind.
    *
    * `retain` sizes the snapshot window (commit-log scaladoc): 1 — the
    * default — deletes the superseded generation inside the commit
    * (the pre-snapshot-log behavior, no extra storage); N keeps the
    * last N snapshots readable via `asOf`/`VERSION AS OF` until they
    * expire out of the window. */
  def stageKeyed(spark: SparkSession, df: DataFrame, out: String,
      key: String, sortBy: Seq[String] = Nil, retain: Int = 1,
      codec: String = "none"): String = {
    val cols = df.schema.fieldNames.toSeq
    require(cols.contains(key), s"key '$key' not in ${cols.mkString(",")}")
    require(sortBy.forall(c => cols.contains(c) && c != key),
      s"sortBy must name non-key layout columns, got ${sortBy.mkString(",")}")
    require(retain >= 1, s"retain must be >= 1, got $retain")
    df.write.format("graft-keyed")
      .option("schema", df.schema.toDDL) // the provider infers nothing
      .option("key", key)
      .option("sortBy", sortBy.mkString(","))
      .option("retain", retain.toString)
      .option("codec", codec)
      .mode("overwrite")
      .save(out)
    out
  }

  /** Z-ORDERED stage (r18 stretch — Delta/Iceberg `ZORDER BY` as a
    * write option on this layout): rows land in `blocks` key
    * directories by the MORTON interleave of two dimensions, each
    * quantized to 8 bits against its measured corpus range (one
    * scalar min/max aggregate, broadcast; the q48 audit's exact
    * arithmetic — Morton 1966, codegen'd shift/mask terms, no UDF).
    * Directories are then square-ish blocks of the 2-D plane, so the
    * sidecar's per-directory min/max is TIGHT ON BOTH dimensions and
    * the r18 non-key skipping prunes 2-D predicates that a linear
    * sort can only prune on its leading column — q48 proved the math
    * on synthetic file stats; this writes the REAL layout and lets
    * the connector's own metadata do the pruning (KeyedSkippingSpec
    * pins z-order 4/64 vs linear 8/64 planned directories on the
    * same predicate). The block id is an ordinary BIGINT key column
    * (`zb`), so every keyed surface — pushed key filters, SPJ,
    * stats, DML, compaction, rebucket (re-deriving `zb` IS a
    * rebucket) — composes unchanged. Quantized dims are STORED
    * (`zq_<dim>`): the skipping bounds and any replayed oracle use
    * the same recorded values rather than re-deriving floats. */
  def stageZOrdered(spark: SparkSession, df: DataFrame, out: String,
      dimA: String, dimB: String, blocks: Int = 64, retain: Int = 1,
      codec: String = "none", curve: String = "morton"): String = {
    import org.apache.spark.sql.functions._
    require(df.schema.fieldNames.contains(dimA) &&
      df.schema.fieldNames.contains(dimB),
      s"z-order dims must be columns, got $dimA/$dimB in ${df.schema.simpleString}")
    require(blocks > 0 && 65536 % blocks == 0,
      s"blocks must divide 2^16, got $blocks")
    require(curve == "morton" || curve == "hilbert",
      s"curve must be 'morton' or 'hilbert', got '$curve'")
    // INTEGRAL dims only (round-19 review): the r19 FP storable set
    // made a DOUBLE dim REACH this path, where the BIGINT cast would
    // silently truncate — a [0,1) score dim would collapse every row
    // into one z-bucket with no error. Quantizing FP dims in their
    // native domain is a possible future leg; until then refuse loudly.
    Seq(dimA, dimB).foreach { d =>
      val dt = df.schema(d).dataType
      require(dt == LongType || dt == org.apache.spark.sql.types.IntegerType,
        s"z-order dims must be integral (BIGINT/INT); '$d' is ${dt.sql} — " +
          "pre-quantize a floating-point dim to an integer column first")
    }
    // quantization in 64-bit end to end (r18 ADVICE): with an INT dim
    // the (v - lo) * 256 product could wrap 32-bit BEFORE any cast
    // (range > ~8.4M) and scramble the z-buckets — results stayed
    // right only via honor-but-recheck, but clustering and pruning
    // broke. The corpus range is ONE scalar aggregate collected here
    // (the same job the old broadcast paid); the quantization then
    // runs over BIGINT literals, and a range the 64-bit product
    // itself cannot hold refuses loudly (no real 2-D domain
    // approaches Long.Max/256).
    val (a0v, a1v, b0v, b1v) = {
      val r = df.agg(min(col(dimA).cast("long")).as("a0"),
        max(col(dimA).cast("long")).as("a1"),
        min(col(dimB).cast("long")).as("b0"),
        max(col(dimB).cast("long")).as("b1")).head()
      require(!r.isNullAt(0) && !r.isNullAt(2),
        "z-order stage needs a non-empty input with non-null dims")
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // overflow-safe width check (round-19 review: `a1v - a0v` itself
    // wraps for a hash-derived dim spanning most of the long range,
    // letting the exact input class the guard refuses sail through —
    // with a zero divisor and, under curve=hilbert, silent row LOSS
    // at the lookup join)
    require((BigInt(a1v) - BigInt(a0v)) < Long.MaxValue / 256 &&
      (BigInt(b1v) - BigInt(b0v)) < Long.MaxValue / 256,
      s"z-order dim range too wide for 8-bit quantization arithmetic: " +
        s"[$a0v,$a1v] / [$b0v,$b1v]")
    val qd = df
      .withColumn(s"zq_$dimA", expr(
        s"(CAST($dimA AS BIGINT) - ${a0v}L) * 256 div ${a1v - a0v + 1}L"))
      .withColumn(s"zq_$dimB", expr(
        s"(CAST($dimB AS BIGINT) - ${b0v}L) * 256 div ${b1v - b0v + 1}L"))
    val staged = curve match {
      case "morton" =>
        val zv = (0 until 8).map { i =>
          shiftright(col(s"zq_$dimA"), i).bitwiseAND(1) * lit(1L << (2 * i)) +
            shiftright(col(s"zq_$dimB"), i).bitwiseAND(1) * lit(1L << (2 * i + 1))
        }.reduce(_ + _)
        qd.withColumn("zb", (zv / lit(65536L / blocks)).cast("long"))
      case _ =>
        // HILBERT (r19 stretch): Morton's bit interleave has diagonal
        // seams — consecutive d-indexes can jump across the plane, so
        // a block of 1024 consecutive indexes is sometimes two
        // disconnected squares and a 2-D band predicate keeps extra
        // blocks. The Hilbert curve is fully locality-preserving
        // (every step is an adjacent cell), but its data-dependent
        // rotations (the xy2d state machine, Wikipedia's
        // public-domain form) don't close into Morton's shift/mask
        // terms — so the 256×256 mapping is built ONCE on the driver
        // and ships as a broadcast 65536-row lookup join:
        // constant-size at any corpus scale, no UDF.
        import spark.implicits._
        val lut = (for (a <- 0 until 256; b <- 0 until 256)
          yield (a.toLong, b.toLong, hilbertD(256, a, b).toLong)).toSeq
          .toDF(s"zq_$dimA", s"zq_$dimB", "_hd")
        // the USING join puts its keys first — restore the Morton
        // path's column order (input columns, then zb) so both curves
        // write byte-compatible layouts under one declared schema
        qd.join(broadcast(lut), Seq(s"zq_$dimA", s"zq_$dimB"))
          .withColumn("zb", (col("_hd") / lit(65536L / blocks)).cast("long"))
          .select(qd.columns.map(col).toSeq :+ col("zb"): _*)
    }
    stageKeyed(spark, staged, out, "zb", sortBy = Seq(dimA), retain = retain,
      codec = codec)
  }

  /** xy2d for an n×n Hilbert curve (n a power of two) — the standard
    * iterative rotate-and-accumulate walk from the curve's recursive
    * definition (Hilbert 1891; public-domain pseudocode form). */
  private[graft] def hilbertD(n: Int, x0: Int, y0: Int): Int = {
    var x = x0; var y = y0
    var d = 0
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate the quadrant so the sub-curve's frame aligns
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  // ── Committed-snapshot log (the publish half of WAP) ───────────────
  //
  // The committed-generation record is a SNAPSHOT LOG — each commit
  // publishes the whole retained window as ONE new versioned file,
  // claimed by atomic exclusive create (the whole visibility
  // transition; there is no multi-file ordering to tear) — so the
  // connector gains the three snapshot surfaces the
  // immediate-delete simplification used to forgo (the Iceberg snapshot
  // model: a table is a log of immutable snapshots, readers pin one):
  //
  //  * TIME TRAVEL: read option `asOf = <seq>` (or catalog
  //    `VERSION AS OF <seq>`, [[GraftCatalog.loadTable]]) resolves a
  //    RETAINED snapshot instead of the head — a reproducible training
  //    run pins the exact corpus generation it consumed, and an audit
  //    reads yesterday's layout while today's is already live.
  //  * METADATA-GRAIN DELETE: `DELETE FROM t WHERE key IN (…)` commits
  //    a new snapshot naming the SAME generation plus TOMBSTONES — at
  //    100 TB a retraction (opted-out source, contaminated shard) is
  //    one metadata write, zero data bytes moved; readers prune
  //    tombstoned directories exactly like pushed key filters
  //    ([[KeyedTable.deleteWhere]]).
  //  * RETENTION/EXPIRY: write option `retain = N` keeps the last N
  //    snapshots; a commit trims the window and deletes generation
  //    directories no retained snapshot references (Iceberg's
  //    expire-snapshots, folded into the commit). retain=1 — the
  //    default — IS the old immediate-delete behavior, so layouts that
  //    never asked for history pay no extra storage.
  //
  // Each snapshot line is `seq<US>gen<US>tombCsv`: seq a monotone
  // commit number (the time-travel handle), gen the generation
  // directory holding the data + its sidecar/order marker, tombstones
  // the raw key dirnames deleted from view. Delete commits share the
  // generation directory — history of a 10-key purge costs bytes of
  // metadata, not a second copy of the corpus.

  /** Commit-log base name. The log is published as VERSIONED files
    * `_graft_keyed_commit.v<seq>` (each holding the full retained
    * window whose head is <seq>), claimed by an ATOMIC EXCLUSIVE create
    * — the CAS: two committers racing for the same next seq cannot both
    * win, the loser re-reads the fresh log (which now contains the
    * winner's snapshot) and retries, so the log NEVER loses a commit.
    * Readers resolve the highest seq on disk. A path with no versioned
    * log and no `k=` directories is an empty table; any other
    * log-less layout is refused ([[readCommitLog]]). */
  val CommitFile = "_graft_keyed_commit"

  /** Metadata column: a row's ordinal within its key's concatenated
    * raw stream — the DELETION-VECTOR position (merge-on-read row ID,
    * with the key column). Ordinals count every stored row, deleted or
    * not, so they stay stable under appends (new directories only ever
    * extend the stream) and under further deletes. */
  val PosCol = "_graft_pos"

  /** Metadata column: the row's RAW key dirname (the `k=<v>` string).
    * Non-nullable by the framing guard, which is what lets it serve in
    * the merge-on-read row ID — the DECLARED key column is nullable by
    * DDL and Spark refuses nullable row-ID attributes. */
  val KeyCol = "_graft_key"

  /** DV files are named `_dv-<rowCount>-<taskId>` (underscore: hidden
    * from the frame decoders) so metadata surfaces can price a
    * deletion without opening the file. */
  private[graft] def dvCountOf(ref: String): Long = {
    val name = ref.substring(ref.lastIndexOf('/') + 1)
    name.split("-", -1) match {
      case parts if parts.length >= 3 && parts(0) == "_dv" =>
        try parts(1).toLong catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft-keyed deletion-vector ref '$ref' has a malformed count")
        }
      case _ => throw new IllegalStateException(
        s"graft-keyed deletion-vector ref '$ref' is not a dv file")
    }
  }

  /** Load deletion-vector files into a position bitset. Lines are a
    * bare ASCII ordinal or a run-length `start-end` range (inclusive —
    * the writer collapses contiguous runs, the dominant shape of
    * predicate deletes). Executor-side, per partition — one key's DV
    * rows, the standing per-key memory bound. */
  private[sources] def loadDeleted(paths: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): java.util.BitSet = {
    val bits = new java.util.BitSet()
    paths.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(hp),
          java.nio.charset.StandardCharsets.US_ASCII))
      try {
        var line = in.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            if (line.charAt(0) == 'B')
              // dense-container form: one base64 bitmap line (writer's
              // density threshold — see KeyedDvWriter)
              bits.or(java.util.BitSet.valueOf(
                java.util.Base64.getDecoder.decode(line.substring(1))))
            else {
              val dash = line.indexOf('-')
              if (dash < 0) bits.set(line.toInt)
              else bits.set(line.substring(0, dash).toInt,
                line.substring(dash + 1).toInt + 1)
            }
          }
          line = in.readLine()
        }
      } finally in.close()
    }
    bits
  }

  /** A bitmap dv line's set ordinals as inclusive runs — the range
    * form the stats-patch anti-join consumes. */
  private[sources] def bitmapRuns(line: String): Seq[(Long, Long)] = {
    val bits = java.util.BitSet.valueOf(
      java.util.Base64.getDecoder.decode(line.substring(1)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = bits.nextSetBit(0)
    while (i >= 0) {
      val end = bits.nextClearBit(i) - 1
      out += ((i.toLong, end.toLong))
      i = bits.nextSetBit(end + 1)
    }
    out.toSeq
  }
  /** The one log dialect written and read. Header fields after the
    * retain width are optional (ops, tags, stream epochs, branches);
    * snapshot lines carry 4 fields, plus deletion vectors and a branch
    * name when present. */
  private val CommitVersion = "graft-keyed-commit v4"
  private val VersionedName = s"""\\Q$CommitFile\\E\\.v(\\d+)""".r

  /** One committed snapshot: monotone sequence number, the BASE
    * generation directory it reads from, the keys tombstoned out of
    * view (raw `k=<v>` dirnames — the same strings the listing prunes
    * by), per-key EDITS — keys whose live content is served by
    * OTHER generations' `k=<v>/` directories instead of (or, for
    * multi-entry lists, appended after) the base generation's
    * (row-level copy-on-write commits reference unchanged keys from
    * the base generation and rewritten/inserted keys from their own;
    * files are referenced, never copied) — and per-key DELETION
    * VECTORS (r16 merge-on-read: `dvs(k)` lists DV files, as
    * `<gen>/k=<k>/<file>` relative refs, holding ORDINALS into the
    * key's concatenated row stream that readers must skip; ordinals
    * stay valid under appends — new directories only ever append at
    * the end of the stream — and are FOLDED IN by any rewrite of the
    * key, which clears its entry). `edits` and `tombstones` are
    * disjoint by construction; a tombstoned key has no dvs. */
  final case class Snapshot(seq: Long, gen: String, tombstones: Set[String],
      edits: Map[String, Seq[String]] = Map.empty,
      dvs: Map[String, Seq[String]] = Map.empty,
      branch: Option[String] = None) {
    /** Every generation directory this snapshot references (base,
      * edit-serving, DV-holding) — the ONE liveness definition all
      * expiry/trim call sites share. */
    def referencedGens: Seq[String] =
      gen +: (edits.valuesIterator.flatten.toSeq ++
        dvs.valuesIterator.flatten.map(_.takeWhile(_ != '/')).toSeq)
  }

  /** Schema-evolution op, recorded in the commit log's lineage (r16 —
    * the Iceberg-shape gap a long-lived layout hits: add-column and
    * rename without restaging 100 TB of frames). Ops are APPEND-ONLY
    * and name-based: a generation written before a rename stores the
    * OLD name, one written after stores the new — readers resolve each
    * declared column against a generation's written schema through the
    * alias chain, so no per-generation stamping is needed. Added
    * columns carry a DEFAULT (the framed layout stores no NULLs — an
    * added column must answer something for pre-evolution rows). Type
    * CHANGES have no op except the one SAFE WIDENING (r18): INT →
    * BIGINT via [[WidenCol]] — pure metadata in this layout, since
    * frames store ASCII digits under both types and every INT value's
    * digit string parses as the same BIGINT; numeric order, sidecar
    * min/max/sum digits, and the order-marker claim all carry over
    * unchanged. Everything else (narrowing, BIGINT↔STRING) refuses
    * loudly at plan time. Float→double has no analog here on purpose:
    * the layout stores no floating point (the repo-wide exactness
    * discipline — doubles are derived at query time from exact
    * integer sums). */
  sealed trait SchemaOp
  final case class AddCol(name: String, isLong: Boolean, default: String)
      extends SchemaOp
  final case class RenCol(from: String, to: String) extends SchemaOp
  /** INT → BIGINT promotion of column `name` (by its CURRENT name at
    * op time; later renames track it like any lineage name). */
  final case class WidenCol(name: String) extends SchemaOp

  /** The retained snapshot window plus the retention width that
    * produced it (delete commits inherit `retain` from here — they
    * carry no write options of their own), the schema-evolution
    * lineage (append-only; applies to the LAYOUT, not one snapshot —
    * alias resolution is stamp-free, see [[SchemaOp]]), and NAMED TAGS
    * (r16 — tag name → snapshot seq; a tagged snapshot is PROTECTED
    * from the retention trim until its tag drops, Iceberg's tag
    * semantics: a training run tags the corpus snapshot it consumed
    * and that exact state stays reproducible however many commits
    * land after it). */
  final case class CommitLog(retain: Int, snapshots: Seq[Snapshot],
      ops: Seq[SchemaOp] = Seq.empty, tags: Map[String, Long] = Map.empty,
      streams: Map[String, Long] = Map.empty,
      branches: Map[String, Long] = Map.empty) {
    require(snapshots.exists(_.branch.isEmpty),
      "commit log must retain at least one main snapshot")
    /** This log with `snap` appended and the window trimmed to the
      * wider of the log's `retain` and `retainAtLeast` (never below 1)
      * — the one trimming append, so no commit path can shrink the
      * window or expire a protected snapshot (tag and branch
      * bookkeeping commits add their head duplicate untrimmed). */
    def append(snap: Snapshot, retainAtLeast: Int = 0): CommitLog = {
      val keep = math.max(math.max(retain, retainAtLeast), 1)
      copy(retain = keep,
        snapshots = trimWindow(snapshots :+ snap, keep, tags, branches))
    }
    /** MAIN head: the latest snapshot not belonging to a branch —
      * every read/write surface that doesn't name a branch resolves
      * here, so branch commits are invisible to main by construction. */
    def head: Snapshot = snapshots.reverse.find(_.branch.isEmpty).get
    /** Seqs are GLOBAL commit ids (the CAS claims by them), so the
      * next one follows the latest snapshot of ANY ref. */
    def nextSeq: Long = snapshots.last.seq + 1
    /** A branch's current state: its latest own snapshot, or the fork
      * snapshot when it has no commits yet. */
    def branchHead(name: String): Snapshot = {
      val fork = branches.getOrElse(name, throw new IllegalArgumentException(
        s"graft-keyed branch '$name' does not exist" +
          (if (branches.isEmpty) "" else s" (branches: ${branches.keys.toSeq.sorted.mkString(",")})")))
      snapshots.reverse.find(_.branch.contains(name)).getOrElse(
        snapshots.find(_.seq == fork).getOrElse(throw new IllegalStateException(
          s"graft-keyed branch '$name' fork snapshot $fork is not retained — log invariant broken")))
    }
  }

  /** Window trim that honors tag AND branch protection: keep the last
    * `keep` MAIN snapshots, every tagged one, every live branch's fork
    * and own snapshots ([[CommitLog.append]] is its one caller). A
    * dropped branch's snapshots lose protection and age out at the
    * next commit's trim (the dropTag discipline). */
  private def trimWindow(snapshots: Seq[Snapshot], keep: Int,
      tags: Map[String, Long],
      branches: Map[String, Long]): Seq[Snapshot] = {
    val protectedSeqs = tags.values.toSet ++ branches.values
    val tail = snapshots.filter(_.branch.isEmpty)
      .takeRight(keep).map(_.seq).toSet
    snapshots.filter(s => tail.contains(s.seq) || protectedSeqs.contains(s.seq) ||
      s.branch.exists(branches.contains))
  }

  /** Crash-window test hook (KeyedWriteSpec): when set, a commit does
    * every write EXCEPT the log claim, then throws — simulating a
    * failure between audit and publish. */
  @volatile private[graft] var failBeforePublish = false

  /** Race test seam (KeyedCasSpec): a ONE-SHOT callback fired between a
    * commit's read-build and its CAS claim — lets a spec interleave a
    * racing commit deterministically in the exact window the CAS
    * protects. One-shot (getAndSet null) so the racing commit's own
    * loop cannot re-fire it. */
  private[graft] val raceHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable]()

  /** Resolve the root readers should list (head snapshot): the
    * committed generation when a log exists, the path itself for an
    * empty table. Sidecar/order-marker reads resolve through this, so
    * a generation directory (`_gen-*`) passes through as itself. */
  private[graft] def effectiveRoot(path: String,
      hconf: org.apache.hadoop.conf.Configuration): String =
    if (new org.apache.hadoop.fs.Path(path).getName.startsWith("_gen-")) path
    else readCommitLog(path, hconf).fold(path)(log =>
      new org.apache.hadoop.fs.Path(path, log.head.gen).toString)

  /** One RESOLVED snapshot, bound once per scan build or row-level
    * commit: the layout path, the snapshot's seq (0 = empty table, no
    * log yet — conflict detection for copy-on-write commits compares
    * it against the fresh head), the base generation (None = empty
    * table), tombstones, and the per-key generation edits. Every read
    * surface (partition listing, merged sidecar, order marker,
    * statistics, TopN budgets) answers from ONE view, so a racing
    * commit swaps the log without tearing a plan. */
  final case class SnapshotView(layoutPath: String, seq: Long,
      gen: Option[String], tombstones: Set[String],
      edits: Map[String, Seq[String]], ops: Seq[SchemaOp] = Seq.empty,
      dvs: Map[String, Seq[String]] = Map.empty) {
    /** Absolute paths of key `k`'s deletion-vector files (refs are
      * `<gen>/k=<k>/<file>`, relative to the layout root). */
    def dvPathsOf(k: String): Seq[String] = dvs.getOrElse(k, Seq.empty)
      .map(r => new org.apache.hadoop.fs.Path(layoutPath, r).toString)
    /** Base-generation root (the layout path itself for an empty table). */
    def root: String = gen.fold(layoutPath)(g =>
      new org.apache.hadoop.fs.Path(layoutPath, g).toString)
    def genRoot(g: String): String =
      new org.apache.hadoop.fs.Path(layoutPath, g).toString

    /** Live keys and the directories serving each, base-generation
      * `k=` dirs first (tombstones pruned, edited keys overridden by
      * their generation list — multi-entry lists are row-level APPENDS
      * and read in list order). A committed base generation always
      * exists (writers create it even for an empty write), so a
      * missing one is damage and fails loudly, never an empty table. */
    def liveKeyDirs(hconf: org.apache.hadoop.conf.Configuration)
        : Seq[(String, Seq[String])] = {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(hconf)
      val base: Seq[String] = gen.fold(Seq.empty[String]) { g =>
        if (!fs.exists(rootPath)) throw new IllegalStateException(
          s"graft-keyed snapshot $seq at $layoutPath names generation $g, " +
            "which is missing — the layout is damaged")
        fs.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("k="))
          .map(_.getPath.getName.stripPrefix("k="))
      }
      base.filterNot(tombstones.contains).filterNot(edits.contains)
        .map(k => k -> Seq(new org.apache.hadoop.fs.Path(root, s"k=$k").toString)) ++
        edits.toSeq.map { case (k, gs) =>
          k -> gs.map(g =>
            new org.apache.hadoop.fs.Path(genRoot(g), s"k=$k").toString)
        }
    }
  }

  /** Resolve one snapshot for a scan. `asOf = None` reads the head;
    * `asOf = Some(seq)` reads a RETAINED snapshot and fails loudly
    * when the seq expired out of the retention window (or never
    * existed) — a silently-substituted newer snapshot would break
    * exactly the reproducibility time travel exists for. */
  private[graft] def resolveView(path: String,
      hconf: org.apache.hadoop.conf.Configuration,
      asOf: Option[Long]): SnapshotView =
    readCommitLog(path, hconf) match {
      case Some(log) =>
        val snap = asOf.fold(log.head) { seq =>
          log.snapshots.find(_.seq == seq).getOrElse(
            throw new IllegalArgumentException(
              s"graft-keyed snapshot $seq is not retained at $path " +
                s"(retained seqs: ${log.snapshots.map(_.seq).mkString(",")}, " +
                s"retain=${log.retain}) — expired or never committed; " +
                "stage with a larger 'retain' to keep history"))
        }
        SnapshotView(path, snap.seq, Some(snap.gen), snap.tombstones,
          snap.edits, log.ops, snap.dvs)
      case None =>
        asOf.foreach(seq => requireLog(path, None, s"asOf=$seq"))
        SnapshotView(path, 0L, None, Set.empty, Map.empty)
    }

  /** Spec-facing twin of [[effectiveRoot]] (the specs that doctor
    * layout internals — delete a sidecar, inspect k= directories —
    * must aim at the COMMITTED generation, not the layout root). */
  private[graft] def committedRoot(spark: SparkSession, path: String): String =
    effectiveRoot(path, spark.sessionState.newHadoopConf())

  /** Versioned log files in a root listing, as (seq, fileName),
    * unsorted. */
  private def versionedLogs(listing: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(Long, String)] =
    listing.flatMap(s => s.getPath.getName match {
      case VersionedName(seq) if s.isFile => Some((seq.toLong, s.getPath.getName))
      case _ => None
    })

  private def listRoot(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty

  /** Parse the commit log: the HIGHEST versioned file. None = an empty
    * table (no log, no `k=` directories). A root that holds `k=`
    * directories or an unversioned `_graft_keyed_commit` file but no
    * versioned log is not a layout this connector wrote, and is refused
    * loudly rather than read as something it might not be. A present
    * but unparseable log fails loudly too: corruption of a file this
    * connector owns. A versioned file vanishing between list and read
    * is a RACING COMMIT's cleanup of a superseded log, not corruption —
    * re-list and resolve the newer head. */
  private[graft] def readCommitLog(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[CommitLog] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    var attempt = 0
    while (true) {
      attempt += 1
      val listing = listRoot(fs, root)
      val versioned = versionedLogs(listing)
      if (versioned.isEmpty) {
        if (listing.exists(s => s.getPath.getName == CommitFile ||
            (s.isDirectory && s.getPath.getName.startsWith("k="))))
          throw new UnsupportedOperationException(
            s"graft-keyed layout at $path has data or an unversioned " +
              s"$CommitFile but no versioned commit log — not a " +
              "generation-committed layout; restage it through the " +
              "connector writer")
        return None
      }
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(root, versioned.maxBy(_._1)._2))
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        return Some(parseCommitLog(path, text))
      } catch {
        case _: java.io.FileNotFoundException if attempt < 8 => () // re-list
      }
    }
    None // unreachable
  }

  /** The committed log, or the ONE loud refusal for surfaces that need
    * history (appends, DML, tags, branches, changes, compaction,
    * time travel) on a path that has none yet. */
  private[graft] def requireLog(path: String, log: Option[CommitLog],
      what: String): CommitLog =
    log.getOrElse(throw new UnsupportedOperationException(
      s"graft-keyed $what requires a generation-committed layout, but " +
        s"$path has no commit log — stage it through the connector " +
        "writer (stageKeyed or mode('overwrite')) first"))

  private[graft] def requireLog(path: String,
      hconf: org.apache.hadoop.conf.Configuration, what: String): CommitLog =
    requireLog(path, readCommitLog(path, hconf), what)

  private def parseCommitLog(path: String, text: String): CommitLog = {
    def corrupt(): Nothing = {
      val hint =
        if (text.startsWith("graft-keyed-commit") && !text.startsWith(CommitVersion))
          s" (unsupported format version — this build reads '$CommitVersion' only)"
        else ""
      throw new IllegalStateException(
        s"graft-keyed commit log corrupted at $path$hint: '${text.take(80)}'")
    }
    def long(s: String): Long =
      // numeric corruption must route through corrupt() (path + head
      // of the file in the message), not leak a bare
      // NumberFormatException with no context
      try s.toLong catch { case _: NumberFormatException => corrupt() }
    def parseEdits(csv: String): Map[String, Seq[String]] =
      csv.split(",", -1).filter(_.nonEmpty).map { pair =>
        pair.split(":", -1) match {
          case Array(k, gens) if k.nonEmpty && gens.nonEmpty =>
            k -> gens.split("\\|", -1).filter(_.nonEmpty).toSeq
          case _ => corrupt()
        }
      }.toMap
    def parseOps(csv: String): Seq[SchemaOp] =
      csv.split(",", -1).filter(_.nonEmpty).toSeq.map { op =>
        op.split(":", -1) match {
          case Array("add", n, t, d) if n.nonEmpty && (t == "B" || t == "S") =>
            AddCol(n, t == "B", d)
          case Array("ren", o, n) if o.nonEmpty && n.nonEmpty => RenCol(o, n)
          case Array("widen", n) if n.nonEmpty => WidenCol(n)
          case _ => corrupt()
        }
      }
    val lines = text.split("\n", -1).filter(_.nonEmpty)
    if (lines.isEmpty) corrupt()
    lines.head.split(PageSource.US, -1) match {
      case Array(CommitVersion, retain, rest @ _*)
          if lines.length >= 2 && rest.length <= 4 =>
        val snaps = lines.tail.toSeq.map { line =>
          line.split(PageSource.US, -1) match {
            // optional field 5: deletion vectors; optional field 6: a
            // BRANCH commit's branch name (field 5 may then be empty)
            case Array(seq, gen, tombCsv, editsCsv, opt @ _*)
                if gen.nonEmpty && opt.length <= 2 =>
              Snapshot(long(seq), gen,
                tombCsv.split(",", -1).filter(_.nonEmpty).toSet,
                parseEdits(editsCsv), parseEdits(opt.headOption.getOrElse("")),
                branch = opt.lift(1).filter(_.nonEmpty))
            case _ => corrupt()
          }
        }
        if (snaps.map(_.seq) != snaps.map(_.seq).sorted) corrupt()
        def nameLongMap(raw: Option[String]): Map[String, Long] = raw
          .fold(Map.empty[String, Long])(_.split(",", -1).filter(_.nonEmpty)
            .map(_.split(":", -1) match {
              case Array(n, s) if n.nonEmpty => n -> long(s)
              case _ => corrupt()
            }).toMap)
        CommitLog(long(retain).toInt, snaps,
          rest.headOption.fold(Seq.empty[SchemaOp])(parseOps),
          nameLongMap(rest.lift(1)),
          // header field 3: per-streaming-query max committed epoch —
          // the exactly-once dedup marker for replayed epochs
          nameLongMap(rest.lift(2)),
          // header field 4: live branches, name -> fork seq
          nameLongMap(rest.lift(3)))
      case _ => corrupt()
    }
  }

  private[sources] def renderCommitLog(log: CommitLog): String = {
    val sb = new StringBuilder
    sb.append(CommitVersion).append(PageSource.US).append(log.retain)
    val hdr3 = log.streams.nonEmpty || log.branches.nonEmpty
    if (log.ops.nonEmpty || log.tags.nonEmpty || hdr3)
      sb.append(PageSource.US).append(log.ops.map {
        case AddCol(n, l, d) => s"add:$n:${if (l) "B" else "S"}:$d"
        case RenCol(o, n) => s"ren:$o:$n"
        case WidenCol(n) => s"widen:$n"
      }.mkString(","))
    if (log.tags.nonEmpty || hdr3)
      sb.append(PageSource.US).append(log.tags.toSeq.sortBy(_._1)
        .map { case (n, s) => s"$n:$s" }.mkString(","))
    if (hdr3)
      sb.append(PageSource.US).append(log.streams.toSeq.sortBy(_._1)
        .map { case (n, s) => s"$n:$s" }.mkString(","))
    if (log.branches.nonEmpty)
      sb.append(PageSource.US).append(log.branches.toSeq.sortBy(_._1)
        .map { case (n, s) => s"$n:$s" }.mkString(","))
    sb.append('\n')
    log.snapshots.foreach { s =>
      sb.append(s.seq).append(PageSource.US).append(s.gen)
        .append(PageSource.US).append(s.tombstones.toSeq.sorted.mkString(","))
        .append(PageSource.US).append(s.edits.toSeq.sortBy(_._1)
          .map { case (k, gs) => s"$k:${gs.mkString("|")}" }.mkString(","))
      if (s.dvs.nonEmpty || s.branch.isDefined)
        sb.append(PageSource.US).append(s.dvs.toSeq.sortBy(_._1)
          .map { case (k, fs) => s"$k:${fs.mkString("|")}" }.mkString(","))
      s.branch.foreach(b => sb.append(PageSource.US).append(b))
      sb.append('\n')
    }
    sb.toString
  }

  /** ATOMIC EXCLUSIVE create of `dst` from fully-written `tmp`: true =
    * this caller owns `dst`; false = `dst` already exists (a concurrent
    * committer won the seq). On the local FS a HARD LINK carries the
    * claim (POSIX link(2) is atomic and fails on an existing target —
    * java.io rename silently overwrites, which is exactly the lost
    * update this exists to prevent); elsewhere a no-overwrite
    * FileContext rename (atomic on HDFS). Either way `dst` appears
    * complete or not at all — content was finished in `tmp` first. */
  private def claimExclusive(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri,
          fs.getConf).rename(tmp, dst) // no OVERWRITE: fails if dst exists
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already exists") =>
          false
      }
    }
  }

  /** CAS publish: claim `_graft_keyed_commit.v<head.seq>` exclusively.
    * TRUE = the commit is visible; FALSE = a concurrent committer
    * claimed this seq first — the caller re-reads the fresh log (now
    * containing the winner's snapshot) and rebuilds, so no commit is
    * ever silently lost. */
  private[graft] def publishLog(path: String, log: CommitLog,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val tmpName = s"$CommitFile.tmp-${java.util.UUID.randomUUID()}"
    val tmp = new org.apache.hadoop.fs.Path(root, tmpName)
    val dst = new org.apache.hadoop.fs.Path(root,
      s"$CommitFile.v${log.snapshots.last.seq}")
    writeFile(fs, tmp, renderCommitLog(log))
    val won = claimExclusive(fs, tmp, dst)
    // own tmp (and its checksum twin) goes either way — the claim
    // copied/renamed it; a leftover is swept as stale by a later commit
    quietly(s"commit tmp cleanup at $path") {
      fs.delete(tmp, false)
      fs.delete(new org.apache.hadoop.fs.Path(root, s".$tmpName.crc"), false)
    }
    won
  }

  /** Read-build-publish retry loop: the ONE commit path for every commit
    * kind. `build` sees the FRESH log each attempt (None = no log yet)
    * and returns the candidate (None = nothing to commit, a visible
    * no-op). A CAS loss re-runs `build` against the fresh log — the
    * loser's snapshot lands AFTER the winner's in seq order; after
    * `maxAttempts` losses it fails loudly rather than spin. Once the
    * claim wins the commit is visible, so the cleanup that follows
    * ([[expireGenerations]]) is best-effort: this throws only when
    * nothing was published. Callers delete their own staging
    * generation when this throws (DSv2 `abort`, compaction) — a
    * cleanup failure surfacing here would delete the generation the
    * new head references. */
  private[sources] def commitLoop(path: String,
      hconf: org.apache.hadoop.conf.Configuration, what: String,
      maxAttempts: Int = 8)(
      build: Option[CommitLog] => Option[CommitLog]): Option[CommitLog] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val prior = readCommitLog(path, hconf)
      build(prior) match {
        case None => return None
        case Some(candidate) =>
          val h = raceHook.getAndSet(null)
          if (h != null) h.run()
          if (publishLog(path, candidate, hconf)) {
            quietly(s"post-$what cleanup at $path")(
              expireGenerations(path, prior, candidate, hconf))
            return Some(candidate)
          }
      }
    }
    throw new IllegalStateException(
      s"graft-keyed $what at $path lost the commit race $maxAttempts times " +
        "(another committer keeps claiming the next snapshot seq); giving up " +
        "rather than spin — retry the operation")
  }

  /** Run cleanup whose failure must not fail the operation: what it
    * leaves behind is dead weight a later commit sweeps. Fatal errors
    * (OOM, interrupts) still propagate. */
  private def quietly(what: String)(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"graft-keyed $what failed; a later commit retries it", e)
    }

  /** The codec the layout's CURRENT data files carry, by extension
    * probe of one committed file ("deflate" | "none") — how derivative
    * writers (copy-on-write rewrites, MOR update appends, compaction,
    * rebucket) INHERIT compression: the codec is recorded per file in
    * the name, so a rewrite that kept the layout's own choice needs
    * one driver-side listStatus, no marker. A layout with no committed
    * data (or a foreign one) probes "none". */
  private[sources] def codecOfHead(path: String,
      hconf: org.apache.hadoop.conf.Configuration): String = {
    val root = new org.apache.hadoop.fs.Path(effectiveRoot(path, hconf))
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return "none"
    val kd = fs.listStatus(root).find(st =>
      st.isDirectory && st.getPath.getName.startsWith("k="))
    kd.flatMap(d => fs.listStatus(d.getPath).find(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      .map(f =>
        if (f.getPath.getName.endsWith(PageSource.DeflateSuffix)) "deflate"
        else "none")
      .getOrElse("none")
  }

  /** Stale-staging grace: an unreferenced `_gen-*` directory younger
    * than this is treated as an IN-FLIGHT writer's staging (commits
    * CAS-serialize since r16, so concurrent writers are supported —
    * a blanket sweep would reap a neighbor's uncommitted staging mid
    * write) and left alone; older ones are crashed-writer orphans and
    * are swept. Spec-tunable (the crash-heal spec sets 0 to model
    * "sometime later"). */
  @volatile private[graft] var stagingGraceMs: Long = 15L * 60L * 1000L

  /** After `published` claimed its seq: delete what it made dead, from
    * one listing of the root — superseded versioned logs (and their
    * checksum twins), stale `.tmp-*` files from crashed publishes, and
    * every `_gen-*` directory no retained snapshot references.
    * Generations the prior window referenced but the new one dropped
    * are POSITIVELY dead and go regardless of age; any other
    * unreferenced `_gen-*` (or tmp file) is swept only past
    * [[stagingGraceMs]] — it may be a concurrent writer's in-flight
    * staging or publish (commits serialize through the CAS, staging is
    * concurrent by design). Readers resolve the max seq first, so a
    * crash mid-sweep leaves orphans a later commit removes, never a
    * broken layout; a racing reader that listed an older log re-lists
    * on FileNotFound ([[readCommitLog]]). Called only by
    * [[commitLoop]], best-effort. */
  private def expireGenerations(path: String, prior: Option[CommitLog],
      published: CommitLog, hconf: org.apache.hadoop.conf.Configuration): Unit = {
    def gensOf(log: CommitLog) = log.snapshots.flatMap(_.referencedGens).toSet
    val live = gensOf(published)
    val known = prior.fold(Set.empty[String])(gensOf) -- live
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val listing = listRoot(fs, root)
    versionedLogs(listing).filter(_._1 < published.snapshots.last.seq)
      .foreach { case (_, n) =>
        fs.delete(new org.apache.hadoop.fs.Path(root, n), false)
        fs.delete(new org.apache.hadoop.fs.Path(root, s".$n.crc"), false)
      }
    val cutoff = System.currentTimeMillis() - stagingGraceMs
    listing.foreach { s =>
      val n = s.getPath.getName
      val stale = s.getModificationTime <= cutoff
      if (n.startsWith(s"$CommitFile.tmp-") && stale) fs.delete(s.getPath, false)
      else if (s.isDirectory && n.startsWith("_gen-") && !live.contains(n) &&
          (known.contains(n) || stale))
        fs.delete(s.getPath, true)
    }
  }

  /** Key set one v1 Filter subtree pins over the EXACT directory grain
    * — the ONE consumption algebra for scan pushdown and DELETE alike
    * (two diverging copies would let the scan prune predicates a
    * DELETE refuses, or vice versa). None = not consumable; Some(None)
    * = consumable tautology (IsNotNull over a no-null layout,
    * AlwaysTrue — prunes nothing); Some(Some(s)) = the key set. Or
    * UNIONS (`k = 3 OR k = 5` reaches DSv2 as Or, never In), And
    * intersects, an Or with a tautological side is itself a tautology,
    * and any subtree touching a non-key column or a wrong-typed
    * literal poisons its whole tree to None — partial consumption of
    * an Or would return rows the predicate rejects. `normalize` maps
    * literals to the caller's key representation (typed values for
    * partition pruning, raw dirname strings for tombstones). */
  private[sources] def keyGrainSet[T](f: org.apache.spark.sql.sources.Filter,
      key: String, normalize: Any => Option[T]): Option[Option[Set[T]]] = {
    import org.apache.spark.sql.sources._
    f match {
      case _: AlwaysTrue => Some(None)
      case IsNotNull(a) if a == key => Some(None)
      case EqualTo(a, v) if a == key => normalize(v).map(n => Some(Set(n)))
      case In(a, vs) if a == key && vs != null =>
        // a null element matches no stored row (the framing guard
        // rejects null keys), so the non-null values alone decide
        val ns = vs.toSeq.filter(_ != null).map(normalize)
        if (ns.forall(_.isDefined)) Some(Some(ns.flatten.toSet)) else None
      case And(l, r) =>
        for (a <- keyGrainSet(l, key, normalize);
             b <- keyGrainSet(r, key, normalize)) yield (a, b) match {
          case (Some(x), Some(y)) => Some(x intersect y)
          case (x, y) => x.orElse(y)
        }
      case Or(l, r) =>
        for (a <- keyGrainSet(l, key, normalize);
             b <- keyGrainSet(r, key, normalize)) yield (a, b) match {
          case (Some(x), Some(y)) => Some(x union y)
          case _ => None // a tautological side makes the Or tautological
        }
      case _ => None
    }
  }

  // ── Schema evolution ───────────────────────────────────────────────

  private val ColName = java.util.regex.Pattern.compile("[A-Za-z0-9_]+")

  /** Append schema-evolution ops to a layout's lineage (one CAS commit:
    * new snapshot over the SAME generation + the ops recorded in the
    * log — a schema change is auditable history like any other commit).
    * `current` is the caller's declared schema BEFORE the ops; returns
    * the evolved schema to declare from now on. Validation here is
    * what keeps read-time resolution unambiguous: rename sources must
    * exist, new names must collide with neither current columns nor
    * any HISTORICAL alias (a file could otherwise match two declared
    * columns), defaults must be frame-safe and parse as their type.
    * Only BIGINT/STRING columns exist in this layout; type CHANGES
    * have deliberately no op (readers refuse drift loudly). */
  def evolveKeyed(spark: org.apache.spark.sql.SparkSession, path: String,
      current: StructType, ops: Seq[SchemaOp]): StructType = {
    require(ops.nonEmpty, "evolveKeyed needs at least one op")
    val hconf = spark.sessionState.newHadoopConf()
    commitLoop(path, hconf, "schema evolution") { prior =>
      val log = requireLog(path, prior, "schema evolution")
      // validate against the full lineage (existing + new)
      val evolved = applyOps(current, ops, log.ops)
      require(evolved != null) // applyOps throws with context on any violation
      val head = log.head
      Some(log.copy(ops = log.ops ++ ops).append(Snapshot(log.nextSeq,
        head.gen, head.tombstones, head.edits, head.dvs)))
    }
    applyOps(current, ops, Seq.empty)
  }

  // ── Named tags (r16 — Iceberg tag semantics) ───────────────────────

  private val TagName = java.util.regex.Pattern.compile("[A-Za-z0-9_.-]+")

  /** Tag a RETAINED snapshot (default: the head) with a name. A tagged
    * snapshot is protected from every commit path's retention trim
    * until [[dropTag]] — the reproducibility pin a training run takes
    * on the exact corpus state it consumed (`spark.read.option("tag",
    * "run-2031-q3")` / catalog `VERSION AS OF 'run-2031-q3'`). One CAS
    * commit (no new snapshot — the log's tag map changes, seqs don't);
    * duplicate names refuse (drop first — a silently-moved tag would
    * un-pin someone else's run). */
  def tagSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String, seq: Option[Long] = None): Long = {
    require(TagName.matcher(tag).matches(),
      s"graft-keyed tag names must match [A-Za-z0-9_.-]+, got '$tag'")
    // bound resolution tries Long FIRST (VERSION AS OF, asOf,
    // changesFrom/changesTo), so an all-digit tag could be created yet
    // never referenced — it would silently resolve as a snapshot seq
    require(!tag.forall(_.isDigit),
      s"graft-keyed tag names need at least one non-digit, got '$tag' — " +
        "purely numeric names are indistinguishable from snapshot seqs " +
        "in VERSION AS OF / asOf / changes bounds")
    val hconf = spark.sessionState.newHadoopConf()
    var tagged = 0L
    commitLoop(path, hconf, "tag commit") { prior =>
      val log = requireLog(path, prior, "tag commit")
      val target = seq.getOrElse(log.head.seq)
      if (!log.snapshots.exists(_.seq == target))
        throw new IllegalArgumentException(
          s"graft-keyed cannot tag snapshot $target at $path: not retained " +
            s"(retained seqs: ${log.snapshots.map(_.seq).mkString(",")})")
      log.tags.get(tag).foreach(existing =>
        throw new IllegalArgumentException(
          s"graft-keyed tag '$tag' already names snapshot $existing at " +
            s"$path — drop it first (a silently moved tag would un-pin " +
            "the run that took it)"))
      tagged = target
      // the tag rides a HEAD-DUPLICATE snapshot (same generation,
      // tombstones, edits — zero data, zero visible change, CDC nets
      // it to nothing): the CAS claims log files by head seq, so a
      // metadata-only commit must advance it (the evolveKeyed
      // precedent — a tag is auditable history). No trim here, so no
      // retained snapshot expires with a tag commit.
      Some(log.copy(
        snapshots = log.snapshots :+ Snapshot(log.nextSeq,
          log.head.gen, log.head.tombstones, log.head.edits, log.head.dvs),
        tags = log.tags + (tag -> target)))
    }
    tagged
  }

  /** Drop a tag. The previously-protected snapshot stays readable
    * until the NEXT trimming commit ages it out (dropping a tag never
    * deletes data by itself — the q64 discipline). Unknown tags
    * refuse. */
  def dropTag(spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    commitLoop(path, hconf, "tag drop") { prior =>
      val log = requireLog(path, prior, "tag drop")
      if (!log.tags.contains(tag)) throw new IllegalArgumentException(
        s"graft-keyed tag '$tag' does not exist at $path " +
          s"(tags: ${log.tags.keys.toSeq.sorted.mkString(",") match {
            case "" => "none"; case s => s }})")
      // head-duplicate seq burn for the CAS claim (tagSnapshot note);
      // the now-unprotected snapshot stays until the next trimming
      // commit — dropping a tag never deletes data itself
      Some(log.copy(
        snapshots = log.snapshots :+ Snapshot(log.nextSeq,
          log.head.gen, log.head.tombstones, log.head.edits, log.head.dvs),
        tags = log.tags - tag))
    }
    ()
  }

  /** Resolve a tag to its pinned seq for a read; loud with the known
    * tag list when absent. */
  private[sources] def resolveTag(path: String,
      hconf: org.apache.hadoop.conf.Configuration, tag: String): Long = {
    val log = requireLog(path, hconf, s"tag '$tag'")
    log.tags.getOrElse(tag, throw new IllegalArgumentException(
      s"graft-keyed tag '$tag' does not exist at $path " +
        s"(tags: ${log.tags.keys.toSeq.sorted.mkString(",") match {
          case "" => "none"; case s => s }})"))
  }

  // ── Branch refs (r17 — write-audit-publish at the table layer) ─────
  //
  // A BRANCH is a named divergent lineage on the same snapshot log:
  // branch commits are snapshots tagged with the branch name, invisible
  // to main (CommitLog.head skips them) and to every main reader, while
  // main keeps committing underneath. The lifecycle is the reference's
  // staged promotion (`raw_data/to_processed/` -> `already_processed/`,
  // /root/reference/README.md:44) at the TABLE layer: fork a branch,
  // land risky writes on it (write option `branch=<name>`), audit by
  // reading the branch (read option `branch=<name>`), then PROMOTE with
  // a fast-forward — one metadata commit that makes main's head the
  // branch's state — or drop it, and main never saw a byte. Branch
  // snapshots and the fork point are trim-PROTECTED while the branch
  // lives (the tag discipline); promote/drop release them.

  /** Create branch `name` forked at `seq` (default: the current main
    * head). Returns the fork seq. Same naming rules as tags (and the
    * same numeric-ambiguity refusal); a name may not collide with a
    * live branch. */
  def createBranch(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String, seq: Option[Long] = None): Long = {
    require(TagName.matcher(name).matches(),
      s"graft-keyed branch names must match [A-Za-z0-9_.-]+, got '$name'")
    require(!name.forall(_.isDigit),
      s"graft-keyed branch names need at least one non-digit, got '$name'")
    val hconf = spark.sessionState.newHadoopConf()
    var fork = 0L
    commitLoop(path, hconf, "branch create") { prior =>
      val log = requireLog(path, prior, "branch create")
      val target = seq.getOrElse(log.head.seq)
      if (!log.snapshots.exists(s => s.seq == target && s.branch.isEmpty))
        throw new IllegalArgumentException(
          s"graft-keyed cannot branch from snapshot $target at $path: not a " +
            s"retained main snapshot (retained: ${log.snapshots
              .filter(_.branch.isEmpty).map(_.seq).mkString(",")})")
      log.branches.get(name).foreach(existing =>
        throw new IllegalArgumentException(
          s"graft-keyed branch '$name' already exists at $path " +
            s"(forked at $existing) — drop or promote it first"))
      fork = target
      // head-duplicate seq burn for the CAS claim (tagSnapshot note)
      Some(log.copy(
        snapshots = log.snapshots :+ Snapshot(log.nextSeq,
          log.head.gen, log.head.tombstones, log.head.edits, log.head.dvs),
        branches = log.branches + (name -> target)))
    }
    fork
  }

  /** Drop branch `name` without promoting: its snapshots lose trim
    * protection and age out at the next commit — main never sees its
    * writes. */
  def dropBranch(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    commitLoop(path, hconf, "branch drop") { prior =>
      val log = requireLog(path, prior, "branch drop")
      if (!log.branches.contains(name)) throw new IllegalArgumentException(
        s"graft-keyed branch '$name' does not exist at $path " +
          s"(branches: ${log.branches.keys.toSeq.sorted.mkString(",") match {
            case "" => "none"; case s => s }})")
      Some(log.copy(
        snapshots = log.snapshots :+ Snapshot(log.nextSeq,
          log.head.gen, log.head.tombstones, log.head.edits, log.head.dvs),
        branches = log.branches - name))
    }
    ()
  }

  /** The keys whose serving state (edit list, tombstone, deletion
    * vectors) differs between two snapshots over the SAME base
    * generation — the key-grain touched set conflict detection and
    * rebase both price. */
  private[sources] def touchedKeys(a: Snapshot, b: Snapshot): Set[String] = {
    val ks = a.edits.keySet ++ b.edits.keySet ++ a.tombstones ++ b.tombstones ++
      a.dvs.keySet ++ b.dvs.keySet
    ks.filter(k => a.edits.get(k) != b.edits.get(k) ||
      a.tombstones.contains(k) != b.tombstones.contains(k) ||
      a.dvs.get(k) != b.dvs.get(k))
  }

  /** PROMOTE branch `name` in one metadata commit, then release the
    * branch. Three outcomes (Returns the new main head seq):
    *
    *  - FAST-FORWARD: main's head content still equals the fork state
    *    (metadata-only burns — tags, other branches — don't block);
    *    main simply adopts the branch head's exact state.
    *  - REBASE (r18): main took data commits past the fork, but the
    *    key sets the two lineages touched are DISJOINT (both
    *    computable from the snapshots — the same key-grain sets the
    *    DML conflict check prices). The branch's per-key state
    *    (edits / tombstones / deletion vectors) REPLAYS onto main's
    *    current head as ONE commit: files are referenced, never
    *    copied, and every main-side key keeps main's state. Refused
    *    when main OVERWROTE the table (new base generation — there is
    *    no per-key merge across a full replacement).
    *  - REFUSE, loudly with both touched-key sets, when the lineages
    *    overlap on any key — replaying either side would silently
    *    discard the other's rows on that key (the write-skew the DML
    *    paths refuse at the same grain); resolve by re-branching from
    *    the fresh head and replaying the conflicting work. */
  def fastForward(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    var promoted = 0L
    commitLoop(path, hconf, "branch promote") { prior =>
      val log = requireLog(path, prior, "branch promote")
      val fork = log.branches.getOrElse(name, throw new IllegalArgumentException(
        s"graft-keyed branch '$name' does not exist at $path " +
          s"(branches: ${log.branches.keys.toSeq.sorted.mkString(",") match {
            case "" => "none"; case s => s }})"))
      val forkSnap = log.snapshots.find(_.seq == fork).getOrElse(
        throw new IllegalStateException(
          s"graft-keyed branch '$name' fork snapshot $fork not retained — log invariant broken"))
      val head = log.head
      val bh = log.branchHead(name)
      val same = head.gen == forkSnap.gen && head.tombstones == forkSnap.tombstones &&
        head.edits == forkSnap.edits && head.dvs == forkSnap.dvs
      val adopted: Snapshot =
        if (same)
          // ONE main snapshot adopting the branch head's exact state
          Snapshot(log.nextSeq, bh.gen, bh.tombstones, bh.edits, bh.dvs)
        else {
          // rebase path: per-key replay over main's head
          if (head.gen != forkSnap.gen || bh.gen != forkSnap.gen)
            throw new IllegalStateException(
              s"graft-keyed cannot promote branch '$name' at $path: the base " +
                s"generation changed since the fork (fork ${forkSnap.gen}, " +
                s"main head ${head.gen}, branch head ${bh.gen}) — a full " +
                "overwrite has no per-key merge; re-branch from the fresh " +
                "head and replay")
          val branchTouched = touchedKeys(forkSnap, bh)
          val mainTouched = touchedKeys(forkSnap, head)
          val overlap = branchTouched intersect mainTouched
          if (overlap.nonEmpty) throw new IllegalStateException(
            s"graft-keyed cannot promote branch '$name' at $path: both " +
              s"lineages touched key(s) ${overlap.toSeq.sorted.mkString(",")} " +
              s"since fork seq $fork (branch touched: " +
              s"${branchTouched.toSeq.sorted.mkString(",")}; main touched: " +
              s"${mainTouched.toSeq.sorted.mkString(",")}) — replaying would " +
              "discard one side's rows on the conflicting key; re-branch " +
              "from the fresh head and replay the conflicting work")
          Snapshot(log.nextSeq, head.gen,
            (head.tombstones -- branchTouched) ++
              (bh.tombstones intersect branchTouched),
            (head.edits -- branchTouched) ++
              bh.edits.view.filterKeys(branchTouched).toMap,
            (head.dvs -- branchTouched) ++
              bh.dvs.view.filterKeys(branchTouched).toMap)
        }
      promoted = adopted.seq
      // the branch is consumed (write-audit-publish: promote IS the
      // publish — fast-forward and rebase alike are metadata-only)
      Some(log.copy(branches = log.branches - name).append(adopted))
    }
    promoted
  }

  /** Resolve a branch to its current head seq for a read; loud with
    * the known branch list when absent. */
  private[sources] def resolveBranch(path: String,
      hconf: org.apache.hadoop.conf.Configuration, name: String): Long = {
    val log = requireLog(path, hconf, s"branch '$name'")
    log.branchHead(name).seq
  }

  /** Apply `ops` to `current`, validating each against the schema state
    * AND the full historical alias set (`priorOps`' old names — a new
    * column must not reuse a name some generation still stores under,
    * or read-time resolution would match two declared columns). */
  private[graft] def applyOps(current: StructType, ops: Seq[SchemaOp],
      priorOps: Seq[SchemaOp]): StructType = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"graft-keyed schema evolution refused: $msg")
    var taken: Set[String] = current.fieldNames.toSet ++ priorOps.flatMap {
      case AddCol(n, _, _) => Seq(n)
      case RenCol(o, n) => Seq(o, n)
      case WidenCol(_) => Seq.empty // no new name
    }
    var schema = current
    ops.foreach {
      case AddCol(n, isLong, d) =>
        if (!ColName.matcher(n).matches()) bad(s"column name '$n' must match [A-Za-z0-9_]+")
        if (taken.contains(n)) bad(
          s"column name '$n' is already a current column or a historical alias")
        if (isLong) {
          try d.toLong catch { case _: NumberFormatException =>
            bad(s"BIGINT default '$d' for column '$n' is not an integer") }
        } else if (d.exists(c => c == 0x1F || c == 0x1E || c == '\n' ||
            c == '\r' || c == ':' || c == ','))
          bad(s"STRING default for column '$n' contains a framing/lineage " +
            "delimiter byte")
        taken += n
        schema = schema.add(n,
          if (isLong) LongType else StringType, nullable = false)
      case RenCol(o, n) =>
        if (!schema.fieldNames.contains(o)) bad(s"rename source '$o' is not a column")
        if (!ColName.matcher(n).matches()) bad(s"column name '$n' must match [A-Za-z0-9_]+")
        if (taken.contains(n)) bad(
          s"rename target '$n' is already a current column or a historical alias")
        taken += n
        schema = StructType(schema.fields.map(f =>
          if (f.name == o) f.copy(name = n) else f))
      case WidenCol(n) =>
        if (!schema.fieldNames.contains(n)) bad(s"widen source '$n' is not a column")
        val target = schema(n).dataType match {
          case org.apache.spark.sql.types.IntegerType => LongType
          // r19: FLOAT→DOUBLE joins INT→BIGINT as the second safe
          // widening (exact per value, monotone — old generations
          // decode promoted, their sidecar digits CONVERT)
          case org.apache.spark.sql.types.FloatType =>
            org.apache.spark.sql.types.DoubleType
          case other => bad(
            s"only INT→BIGINT and FLOAT→DOUBLE widenings are " +
              s"representable without restaging; '$n' is ${other.sql} " +
              "(narrowing and cross-kind changes refuse — restage instead)")
        }
        schema = StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(dataType = target) else f))
    }
    schema
  }

  /** fromDDL that round-trips the EMPTY schema (a count(*) scan prunes
    * every column; `StructType.fromDDL("")` raises a parse error). */
  private[sources] def ddlToSchema(ddl: String): StructType =
    if (ddl.isEmpty) new StructType() else StructType.fromDDL(ddl)

  /** Read-time lineage: for each CURRENT column name, its historical
    * aliases (newest-first), the add-op default (if the column was
    * introduced by evolution), and whether an INT→BIGINT widening is
    * recorded — all tracked through renames. */
  private[sources] def lineageOf(ops: Seq[SchemaOp])
      : (Map[String, Seq[String]], Map[String, (Boolean, String)], Set[String]) = {
    var aliases = Map.empty[String, Seq[String]]
    var defaults = Map.empty[String, (Boolean, String)]
    var widened = Set.empty[String]
    ops.foreach {
      case AddCol(n, l, d) => defaults += n -> ((l, d))
      case WidenCol(n) => widened += n
      case RenCol(o, n) =>
        aliases += n -> (o +: aliases.getOrElse(o, Seq.empty))
        aliases -= o
        defaults.get(o).foreach { d => defaults += n -> d; defaults -= o }
        if (widened.contains(o)) { widened -= o; widened += n }
    }
    (aliases, defaults, widened)
  }

  /** The CURRENT names carrying a recorded INT→BIGINT widening — the
    * set every trust check (sidecar header, order marker) consults to
    * accept a generation's stored INT where the declaration now says
    * BIGINT. */
  private[graft] def widenedColumns(ops: Seq[SchemaOp]): Set[String] =
    lineageOf(ops)._3

  /** Per-directory evolved-read plan: how one generation's files map
    * to the scan's output columns. `innerDdl` is the projection the
    * frame decoder reads from the FILE (file-side names/types, output
    * order); `fromFile(i)` says output column i comes from the decoder
    * (in sequence) vs the parsed constant default. None = identity
    * (the generation already stores the declared schema). */
  final case class DirReadPlan(fileDdl: String, innerDdl: String,
      fromFile: Array[Boolean], constIsLong: Array[Boolean],
      constVals: Array[String],
      // output columns whose file column decodes FLOAT under a
      // recorded FLOAT→DOUBLE widening — promoted in EvolvedRowReader
      // (null for plans built before r19: no promotion)
      fpPromote: Array[Boolean] = null)

  /** Resolve `required` against a generation's written schema through
    * the lineage. Loud on: a column that neither resolves nor has a
    * default, and on TYPE DRIFT (a BIGINT-written field read as STRING
    * would silently reorder and corrupt; narrowing likewise refuses —
    * the order-marker v2 rule applied to the data path). */
  private[sources] def evolvedPlan(genRoot: String, written: StructType,
      required: StructType, ops: Seq[SchemaOp]): DirReadPlan = {
    import org.apache.spark.sql.types.StructField
    val (aliases, defaults, widened) = lineageOf(ops)
    val inner = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val fromFile = new Array[Boolean](required.length)
    val constIsLong = new Array[Boolean](required.length)
    val constVals = new Array[String](required.length)
    val fpPromote = new Array[Boolean](required.length)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      val candidates = f.name +: aliases.getOrElse(f.name, Seq.empty)
      candidates.find(written.fieldNames.contains) match {
        case Some(src) =>
          val st = written(src).dataType
          // the SAFE promotions: an INT-written column under a
          // recorded widening decodes DIRECTLY as BIGINT — the frames
          // hold the same ASCII digits, only the parse target changes,
          // so the "promotion" is the inner projection's declared
          // type; a FLOAT-written column under a recorded widening
          // decodes as FLOAT (its sortable-int digits) and PROMOTES
          // per value in EvolvedRowReader (the digit domains differ)
          val widens = st == org.apache.spark.sql.types.IntegerType &&
            f.dataType == LongType && widened.contains(f.name)
          val fpWidens = st == org.apache.spark.sql.types.FloatType &&
            f.dataType == org.apache.spark.sql.types.DoubleType &&
            widened.contains(f.name)
          if (st != f.dataType && !widens && !fpWidens)
            throw new IllegalArgumentException(
              s"graft-keyed schema drift at $genRoot: column '${f.name}' " +
                s"(stored as '$src') was written ${st.sql} but is declared " +
                s"${f.dataType.sql} — type changes refuse; restage the layout")
          fromFile(i) = true
          fpPromote(i) = fpWidens
          inner += StructField(src,
            if (fpWidens) org.apache.spark.sql.types.FloatType else f.dataType,
            nullable = false)
        case None => defaults.get(f.name) match {
          // the declared type must be EXACTLY the add-op's kind
          // (round-19 review: `isLong == (dt == LongType)` let a
          // DOUBLE-declared column bind a STRING default — a
          // UTF8String constant in an fp slot, a decode-time CCE)
          case Some((isLong, d))
              if (if (isLong) f.dataType == LongType
                  else f.dataType == StringType) =>
            constIsLong(i) = isLong
            constVals(i) = d
          case Some(_) => throw new IllegalArgumentException(
            s"graft-keyed schema drift at $genRoot: added column " +
              s"'${f.name}' is declared ${f.dataType.sql} but its add-op " +
              "recorded the other type — type changes refuse")
          case None => throw new IllegalArgumentException(
            s"graft-keyed cannot resolve column '${f.name}' against the " +
              s"generation at $genRoot (written: ${written.simpleString}; " +
              "no lineage alias, no add-op default) — declared schema and " +
              "layout lineage disagree")
        }
      }
    }
    DirReadPlan(written.toDDL, StructType(inner.toSeq).toDDL,
      fromFile, constIsLong, constVals, fpPromote)
  }

  /** Boxing/wire kind codes shared by every frame reader: 0=BIGINT,
    * 1=STRING, 2=INT, 3=DOUBLE, 4=FLOAT. ONE mapping so a type joining
    * the layout lands once for every reader (the r18 review's INT+MOR
    * lesson: per-reader 2-way isLong arrays silently misread a third
    * type). */
  private[sources] def kindOf(dt: org.apache.spark.sql.types.DataType): Int =
    dt match {
      case LongType => 0
      case StringType => 1
      case org.apache.spark.sql.types.IntegerType => 2
      case org.apache.spark.sql.types.DoubleType => 3
      case org.apache.spark.sql.types.FloatType => 4
      case other => throw new IllegalArgumentException(
        s"graft-keyed stores no $other columns")
    }

  /** Owned boxed copy of row slot `i` under `kind` — the shared
    * row-copy leg of the changes/DV readers. */
  private[sources] def boxOf(row: InternalRow, i: Int, kind: Int): Any =
    kind match {
      case 0 => Long.box(row.getLong(i))
      case 2 => Int.box(row.getInt(i))
      case 3 => Double.box(row.getDouble(i))
      case 4 => Float.box(row.getFloat(i))
      case _ => row.getUTF8String(i).clone()
    }

  /** Writer fan-out for the connector's DSv2 writes: the active (else
    * default) session's shuffle parallelism, 0 (= let Spark choose)
    * when there is no session. */
  private[sources] def sessionWriteParallelism: Int =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(0)(_.sessionState.conf.numShufflePartitions)

  /** Parse a numeric read/write option with a remediating error: a
    * malformed value (option("asOf", "v1")) must name the option and
    * the expected form, not surface as a context-free
    * NumberFormatException (r15 ADVICE — GraftCatalog already wrapped
    * its own parses this way). */
  private[sources] def numericOption[T](raw: String, name: String,
      expected: String)(parse: String => T): Option[T] =
    Option(raw).map { v =>
      try parse(v) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-keyed option '$name' must be $expected, got '$v'")
      }
    }

  private[sources] def writeFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val os = fs.create(p, true)
    try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  // ── Order marker ───────────────────────────────────────────────────

  /** Order-marker file name: presence + content is the scan's license
    * to report [[KeyedScan.outputOrdering]]. Written inside the same
    * commit as the data (never left behind by a sortBy-less restage —
    * the new generation simply has no marker). */
  val OrderFile = "_graft_keyed_order"
  private val OrderVersion = "graft-keyed-order v2"

  /** v2 records NAME:TYPE for the key and every sortBy column (the
    * stats sidecar's schemaTag discipline, r14 ADVICE): the layout is
    * schema-on-read text, so a layout staged with doc_id as BIGINT
    * (numerically ordered, 2 < 10) must refuse to claim ordering for a
    * read that declares doc_id STRING ('10' < '2') — an SMJ trusting
    * the stale claim would silently return wrong rows. */
  private[sources] def renderOrderMarker(schema: StructType, key: String,
      sortBy: Seq[String]): String = {
    def tag(c: String) = c + ":" + schema(c).dataType.sql
    OrderVersion + PageSource.US + tag(key) + PageSource.US +
      sortBy.map(tag).mkString(",")
  }

  /** View-aware ordering license: the stored-order claim holds only
    * when every live key is served by exactly ONE directory (a
    * row-level APPEND concatenates two sorted files — their union is
    * not sorted) and every generation serving live keys carries an
    * IDENTICAL valid marker (a copy-on-write rewrite staged without
    * the layout's sortBy must poison the claim). Edit-free snapshots
    * reduce to the single base-root read. */
  private[graft] def readOrderMarkerView(view: SnapshotView,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String): Option[Seq[String]] = {
    val widened = widenedColumns(view.ops)
    val aliases = lineageOf(view.ops)._1
    if (view.edits.isEmpty)
      return readOrderMarker(view.root, conf, declared, key, widened, aliases)
    val live = view.liveKeyDirs(conf.value)
    if (live.exists(_._2.length > 1)) return None
    val roots: Seq[String] =
      if (live.isEmpty) Seq(view.root)
      else live.flatMap(_._2)
        .map(d => new org.apache.hadoop.fs.Path(d).getParent.toString).distinct
    val markers = roots.map(r =>
      readOrderMarker(r, conf, declared, key, widened, aliases))
    if (markers.forall(_.isDefined) && markers.distinct.length == 1) markers.head
    else None
  }

  /** Parse the order marker against the declared key AND types; None =
    * no marker, wrong version, or any name/type the declared schema
    * cannot back — the scan then claims nothing (the stats-sidecar
    * trust rule, applied to ordering). A recorded INT→BIGINT widening
    * (`widened`) keeps a pre-widening marker's claim: numeric order is
    * identical under both types, unlike the BIGINT/STRING drift the
    * v2 type check exists to refuse. */
  private[graft] def readOrderMarker(path: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      widened: Set[String] = Set.empty,
      aliases: Map[String, Seq[String]] = Map.empty): Option[Seq[String]] = {
    val root = effectiveRoot(path, conf.value)
    val p = new org.apache.hadoop.fs.Path(root, OrderFile)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // a stored name resolves to the DECLARED column whose alias chain
    // carries it (r18: ordering claims survive renames — same rows,
    // same bytes, new name), type-equal or INT under a recorded
    // widening (numeric order identical); the claim is returned under
    // the DECLARED name, which is what the scan output resolves
    def matches(tagged: String): Option[String] = tagged.split(":", 2) match {
      case Array(name, tpe) =>
        declared.fields.find(f =>
          (f.name +: aliases.getOrElse(f.name, Seq.empty)).contains(name))
          .filter(f => f.dataType.sql == tpe ||
            (tpe == "INT" && f.dataType == LongType &&
              widened.contains(f.name)) ||
            // FLOAT→DOUBLE widening keeps ordering claims too: the
            // promotion is monotone, so the stored order IS the
            // declared-type order (r19)
            (tpe == "FLOAT" &&
              f.dataType == org.apache.spark.sql.types.DoubleType &&
              widened.contains(f.name)))
          .map(_.name)
      case _ => None
    }
    text.split(PageSource.US, -1) match {
      case Array(OrderVersion, k, colsCsv) if matches(k).contains(key) =>
        val cs = colsCsv.split(",", -1).toSeq.map(matches)
        if (cs.nonEmpty && cs.forall(_.isDefined)) Some(cs.flatten) else None
      case _ => None
    }
  }
}
