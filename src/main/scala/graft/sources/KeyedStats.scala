package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-answered aggregates for the `graft-keyed` layout — the
  * connector's MANIFEST STATISTICS (what Iceberg answers `count(*)`
  * and min/max range queries from without opening a data file).
  *
  * Since r15 the sidecar is derived IN THE WRITERS
  * ([[KeyedDataWriter]] — the write-audit-publish commit): one line
  * per key directory with row count plus per-column min/max (and sum
  * for BIGINT columns) in declared-schema order, US-framed like
  * everything else in the layout, plus one TABLE line (total count +
  * per-column KMV distinct estimates) feeding the planner's column
  * statistics. Accumulating from exactly the rows written keeps the
  * Iceberg write-metrics guarantee the old read-back pass bought — a
  * non-deterministic input cannot desynchronize data and stats,
  * because both are the same pass over the same rows — without paying
  * a second scan per stage, and the sidecar commits ATOMICALLY with
  * the data (same generation, made visible by the same CAS claim of
  * the next versioned commit log).
  *
  * [[KeyedScanBuilder.pushAggregation]] then answers
  * COUNT(*)/COUNT(col)/MIN/MAX/SUM — bare or grouped by the layout
  * key — straight from the sidecar: the planned scan
  * ([[KeyedStatsScan]]) carries ≤ |key domain| pre-projected rows and
  * opens ZERO data files. PARTIAL pushdown by contract (Spark's final
  * aggregate re-merges the per-key rows — sum of counts, min of mins;
  * ≤16 rows, free), which keeps the executed plan shape ordinary and
  * the values exactly those of the refused path — and it makes AVG
  * metadata-answerable for free (Spark decomposes it to sum/count
  * before pushing, both of which the sidecar holds). Pushed KEY filters
  * compose: directory grain is EXACT (unlike the page connector's
  * lossy page grain, where any filter must refuse the count fast
  * path), so `WHERE kb IN (2,3,7) GROUP BY kb` prunes the sidecar to
  * the three matching entries — at 100 TB the difference between a
  * metadata lookup and a full-corpus scan. Refusals (the scan falls
  * back to the ordinary data read, values identical): any
  * non-consumed filter, DISTINCT, any aggregate outside the
  * count/min/max/sum closure, a
  * group-by that is not exactly the layout key, SUM of a STRING
  * column, a missing sidecar (foreign layout), or a sidecar whose
  * header does not match the declared schema + key (stale or
  * foreign-written layout — the sidecar is part of stageKeyed's write
  * contract, and a layout some other writer mutated must not be
  * trusted for metadata answers).
  *
  * Nulls never arise in stored stats (the framing guard rejects null
  * fields and a `k=<v>/` directory exists only if it holds rows);
  * the one null-bearing row is the ZERO-SURVIVOR sentinel — a bare
  * (ungrouped) aggregate whose pushed key filter pruned every entry
  * emits one `count=0, min/max/sum=NULL` row, exactly what the data
  * scan would aggregate to (the PageCountScan empty-layout sentinel,
  * at key grain).
  */
object KeyedStats {
  val SidecarFile = "_graft_keyed_stats"
  /** Post-deletion stats override (r17): written INSIDE a deletion-
    * vector commit's generation, one entry per affected key holding
    * the key's EXACT count/min/max/sum over the surviving rows (min/
    * max don't decompose under row deletion — the DV commit
    * recomputes them with a bounded scan of exactly the affected
    * keys, so every later stats question answers from metadata
    * again). Each entry records how many of the key's serving
    * directories it COVERS: generations appended after the patch add
    * their own sidecar entries on top, and a later DV commit writes a
    * newer patch. A dv ref whose generation carries no patch entry
    * (pre-r17 commits) falls back to the count-only correction. */
  val PatchFile = "_graft_keyed_stats_patch"
  val PatchVersion = "graft-keyed-stats-patch v1"
  // v2 (r15): stats derive in the WRITERS (write-audit-publish — from
  // exactly the rows committed, no read-back pass) and the sidecar
  // gains one TABLE line: total row count + per-column KMV distinct
  // estimates, the number CBO's join-cardinality estimation reads off
  // a connector scan (KeyedScan.estimateStatistics columnStats)
  val Version = "graft-keyed-stats v2"
  /** Per-generation KMV sketch BYTES (r19): the k smallest 63-bit
    * hashes per column, so table NDV merges across the generations an
    * edited view reads (KMV union = union the sets, keep the k
    * smallest — exactly [[graft.sources.KmvSketch.addHashes]]). One
    * ~K×cols×20-byte file per commit. */
  val NdvFile = "_graft_keyed_ndv"
  val NdvVersion = "graft-keyed-ndv v1"

  /** One sidecar line ≙ one key directory's stats. `mins`/`maxs` hold
    * the RAW framed strings per declared column (typed on demand);
    * `sums` is meaningful only at BIGINT columns. */
  final case class Entry(rawKey: String, count: Long,
      mins: Array[String], maxs: Array[String], sums: Array[Long])

  /** Table-level line: total rows + per-column distinct estimates
    * (KMV, exact below the sketch size) in declared-schema order. */
  final case class TableNdv(count: Long, ndvs: Array[Long])

  /** Parsed sidecar: per-key entries plus the table line (absent only
    * in a zero-entry layout's degenerate case — the writer always
    * emits it, but the reader treats it as optional so the per-key
    * surfaces never depend on it). `unresolvedDvKeys` (view reads
    * only): keys whose entries carry EXACT counts but whose min/max/
    * sum still include DV-deleted rows — no patch was available, so
    * non-count aggregates must refuse for views containing them. */
  final case class Sidecar(entries: Seq[Entry], table: Option[TableNdv],
      unresolvedDvKeys: Set[String] = Set.empty)

  /** The stat one pushed aggregate expression reads from an entry.
    * `sentinel` is the zero-survivor value (bare aggregates only). */
  sealed trait Stat {
    def name: String
    def dataType: DataType
    def of(e: Entry): Any
    def sentinel: Any
  }
  final case class CountStat(label: String) extends Stat {
    def name = label; def dataType: DataType = LongType
    def of(e: Entry): Any = e.count
    def sentinel: Any = 0L
  }
  final case class MinStat(i: Int, col: String, dataType: DataType) extends Stat {
    def name = s"min($col)"
    def of(e: Entry): Any = typed(e.mins(i), dataType)
    def sentinel: Any = null
  }
  final case class MaxStat(i: Int, col: String, dataType: DataType) extends Stat {
    def name = s"max($col)"
    def of(e: Entry): Any = typed(e.maxs(i), dataType)
    def sentinel: Any = null
  }
  final case class SumStat(i: Int, col: String) extends Stat {
    def name = s"sum($col)"; def dataType: DataType = LongType
    def of(e: Entry): Any = e.sums(i)
    def sentinel: Any = null
  }

  /** BIGINT and INT share the numeric legs everywhere (min/max/sum
    * digits, merge order, sidecar arity) — only the boxed type at the
    * pushdown boundary differs. */
  private[sources] def numeric(dt: DataType): Boolean =
    dt == LongType || dt == org.apache.spark.sql.types.IntegerType

  /** DOUBLE/FLOAT — storable since r19 as the decimal digits of their
    * ORDER-PRESERVING IEEE-754 bit transform ([[sortableDouble]]):
    * bit-exact storage (the repo's exactness discipline extended to
    * floating point — the bits, not a decimal rendering), and the
    * stored digits compare NUMERICALLY in exactly Spark's double
    * order (NaN greatest, -0.0 normalized to +0.0 at write — the
    * same normalization Spark's NormalizeFloatingNumbers applies to
    * keys). So min/max merge, ordering claims, and the skipping
    * proof duals all ride the numeric-comparison leg unchanged; only
    * SUM refuses (FP addition is not associative — a metadata answer
    * could not reproduce the scan's value bit-for-bit). */
  private[sources] def fp(dt: DataType): Boolean =
    dt == org.apache.spark.sql.types.DoubleType ||
      dt == org.apache.spark.sql.types.FloatType

  /** Order-preserving bijection DOUBLE → BIGINT: positive-sign bit
    * patterns map to themselves, negative-sign ones flip their
    * magnitude bits, so SIGNED long order equals Spark's double order
    * (…, -Inf, …, -0.0=+0.0, …, +Inf, NaN). `doubleToLongBits` (not
    * Raw) canonicalizes every NaN; the `== 0.0` guard folds -0.0 —
    * both normalizations match Spark SQL comparison semantics, and
    * every other value round-trips bit-exactly. The public total-order
    * trick (Lucene NumericUtils / HBase OrderedBytes family). */
  private[graft] def sortableDouble(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    if (bits >= 0) bits else bits ^ 0x7fffffffffffffffL
  }
  private[graft] def unsortableDouble(s: Long): Double =
    java.lang.Double.longBitsToDouble(if (s >= 0) s else s ^ 0x7fffffffffffffffL)
  private[graft] def sortableFloat(f: Float): Int = {
    val bits = java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    if (bits >= 0) bits else bits ^ 0x7fffffff
  }
  private[graft] def unsortableFloat(s: Int): Float =
    java.lang.Float.intBitsToFloat(if (s >= 0) s else s ^ 0x7fffffff)

  /** Stored FLOAT digits re-rendered as DOUBLE digits (the float →
    * double widening's sidecar conversion): every float is exactly
    * representable as a double and promotion is monotone, so a
    * converted min/max is THE min/max under the declared type. */
  private[sources] def floatDigitsAsDouble(raw: String): String =
    sortableDouble(unsortableFloat(raw.toInt).toDouble).toString

  private def typed(raw: String, dt: DataType): Any = dt match {
    case LongType => raw.toLong
    case org.apache.spark.sql.types.IntegerType => raw.toInt
    case org.apache.spark.sql.types.DoubleType => unsortableDouble(raw.toLong)
    case org.apache.spark.sql.types.FloatType => unsortableFloat(raw.toInt)
    case StringType => UTF8String.fromString(raw)
    case other => throw new IllegalArgumentException(s"unsupported stat type $other")
  }

  /** Fields per entry line: key + count + (3 per numeric col, 2 per
    * STRING col). */
  private def lineArity(schema: StructType): Int =
    2 + schema.fields.map(f => if (numeric(f.dataType)) 3 else 2).sum

  /** Schema identity for the header: name + type, nullability ignored
    * (fromDDL-declared schemas are all-nullable while staged lineage
    * schemas usually are not — the layout stores no nulls either way,
    * the framing guard saw to that). */
  private def schemaTag(schema: StructType): String =
    schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  /** Header-tag trust under widening (r18): exact match, or differing
    * ONLY by a recorded INT→BIGINT promotion at the named columns —
    * the stored digits and line arity are identical under both types,
    * so a pre-widening generation's entries parse under the declared
    * schema unchanged and stay metadata-answer-worthy. Any other
    * divergence (names — i.e. pre-rename generations — kinds, arity)
    * refuses as ever. */
  private def tagCompatible(stored: String, declared: StructType,
      widened: Set[String]): Boolean = {
    if (stored == schemaTag(declared)) return true
    if (widened.isEmpty) return false
    val parts = stored.split(", ", -1)
    parts.length == declared.length && parts.zip(declared.fields).forall {
      case (p, f) =>
        p == s"${f.name} ${f.dataType.sql}" ||
          (f.dataType == LongType && widened.contains(f.name) &&
            p == s"${f.name} INT")
    }
  }

  /** Render the sidecar: header line pins version + schema + key, then
    * the table line (total count + per-column NDV), then one line per
    * key in directory-name order. */
  private[sources] def render(schema: StructType, key: String,
      entries: Seq[Entry], table: Option[TableNdv] = None): String = {
    val sb = new StringBuilder
    sb.append(Version).append(PageSource.US).append(schemaTag(schema))
      .append(PageSource.US).append(key).append('\n')
    table.foreach { t =>
      sb.append(t.count)
      t.ndvs.foreach(v => sb.append(PageSource.US).append(v))
      sb.append('\n')
    }
    entries.sortBy(_.rawKey).foreach { e =>
      sb.append(e.rawKey).append(PageSource.US).append(e.count)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        sb.append(PageSource.US).append(e.mins(i))
          .append(PageSource.US).append(e.maxs(i))
        if (numeric(f.dataType)) sb.append(PageSource.US).append(e.sums(i))
      }
      sb.append('\n')
    }
    sb.toString
  }

  /** Render the deletion-vector stats patch ([[PatchFile]]): header
    * pins version + schema + key like the sidecar; one line per
    * affected key = key, covered-dir count, then the entry fields in
    * sidecar order. A fully-deleted key writes count=0 with empty
    * min/max placeholders (never read — zero-count entries drop). */
  private[sources] def renderPatch(schema: StructType, key: String,
      entries: Seq[(Entry, Int)]): String = {
    val sb = new StringBuilder
    sb.append(PatchVersion).append(PageSource.US).append(schemaTag(schema))
      .append(PageSource.US).append(key).append('\n')
    entries.sortBy(_._1.rawKey).foreach { case (e, covered) =>
      sb.append(e.rawKey).append(PageSource.US).append(covered)
        .append(PageSource.US).append(e.count)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        sb.append(PageSource.US).append(e.mins(i))
          .append(PageSource.US).append(e.maxs(i))
        if (numeric(f.dataType)) sb.append(PageSource.US).append(e.sums(i))
      }
      sb.append('\n')
    }
    sb.toString
  }

  /** Parse a generation's stats patch — directly when the header
    * matches, ADAPTED through the evolution lineage otherwise (same
    * resolution as the sidecar read: a DV'd key whose layout evolved
    * AFTER the delete keeps its exact patched stats instead of
    * falling to the count-only correction). None ⇒ no patch (pre-r17
    * DV commit) or a header the lineage cannot resolve. */
  private[graft] def readPatch(genRoot: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      widened: Set[String] = Set.empty,
      ops: Seq[KeyedSource.SchemaOp] = Seq.empty): Option[Map[String, (Entry, Int)]] = {
    val p = new org.apache.hadoop.fs.Path(genRoot, PatchFile)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n", -1).filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header = lines.head.split(PageSource.US, -1)
    if (header.length != 3 || header(0) != PatchVersion) return None
    if (!tagCompatible(header(1), declared, widened) || header(2) != key) {
      if (ops.isEmpty) return None
      val written = try StructType.fromDDL(header(1)) catch {
        case _: Exception => return None
      }
      val map = lineageMap(declared, written, key, header(2), ops)
        .getOrElse(return None)
      val (minOff, sumOff) = writtenOffsets(written, base = 3)
      val wArity = lineArity(written) + 1
      return Some(lines.tail.map { line =>
        val f = line.split(PageSource.US, -1)
        if (f.length != wArity) throw new IllegalStateException(
          s"graft-keyed stats patch corrupted at $genRoot: line has " +
            s"${f.length} fields, written schema implies $wArity " +
            s"(head: ${line.take(80)})")
        val e = remapEntry(declared, map, minOff, sumOff,
          f, rawKey = f(0), count = f(2).toLong)
        f(0) -> (e, f(1).toInt)
      }.toMap)
    }
    val arity = lineArity(declared) + 1 // + covered field
    val n = declared.length
    Some(lines.tail.map { line =>
      val f = line.split(PageSource.US, -1)
      if (f.length != arity) throw new IllegalStateException(
        s"graft-keyed stats patch corrupted at $genRoot: line has ${f.length} " +
          s"fields, schema implies $arity (head: ${line.take(80)})")
      val mins = new Array[String](n)
      val maxs = new Array[String](n)
      val sums = new Array[Long](n)
      var i = 0
      var pos = 3
      while (i < n) {
        mins(i) = f(pos); maxs(i) = f(pos + 1); pos += 2
        if (numeric(declared(i).dataType)) { sums(i) = f(pos).toLong; pos += 1 }
        i += 1
      }
      f(0) -> (Entry(f(0), f(2).toLong, mins, maxs, sums), f(1).toInt)
    }.toMap)
  }

  /** Declared-column resolution against a generation's WRITTEN schema
    * through the lineage: Left((written index, fpWiden)) for mapped
    * columns — type-equal, INT under a recorded widening (same
    * digits), or FLOAT under a recorded widening read as DOUBLE
    * (fpWiden = true: the stored sortable-int digits CONVERT through
    * [[floatDigitsAsDouble]], monotone so min/max stay exact) —
    * Right((isLong, default)) for added-by-evolution columns. None =
    * some column has no lineage answer (foreign layout), or the
    * stored key name is not the declared key or one of its aliases. */
  private def lineageMap(declared: StructType, written: StructType,
      key: String, storedKey: String, ops: Seq[KeyedSource.SchemaOp])
      : Option[Array[Either[(Int, Boolean), (Boolean, String)]]] = {
    val (aliases, defaults, widened) = KeyedSource.lineageOf(ops)
    val keyCands = key +: aliases.getOrElse(key, Seq.empty)
    if (!keyCands.contains(storedKey)) return None
    val n = declared.length
    val map = new Array[Either[(Int, Boolean), (Boolean, String)]](n)
    var i = 0
    while (i < n) {
      val f = declared(i)
      val cands = f.name +: aliases.getOrElse(f.name, Seq.empty)
      cands.find(written.fieldNames.contains) match {
        case Some(src) =>
          val st = written(src).dataType
          val fpWiden = st == org.apache.spark.sql.types.FloatType &&
            f.dataType == org.apache.spark.sql.types.DoubleType &&
            widened.contains(f.name)
          val ok = st == f.dataType ||
            (st == org.apache.spark.sql.types.IntegerType &&
              f.dataType == LongType && widened.contains(f.name)) ||
            fpWiden
          if (!ok) return None
          map(i) = Left((written.fieldIndex(src), fpWiden))
        case None => defaults.get(f.name) match {
          // EXACT kind match (round-19 review — the evolvedPlan twin):
          // a DOUBLE-declared column must never bind an add-op default
          // of either recorded kind (typed() would misparse the digits
          // as sortable bits — a silently wrong metadata answer)
          case Some((isLong, d))
              if (if (isLong) f.dataType == LongType
                  else f.dataType == StringType) =>
            map(i) = Right((isLong, d))
          case _ => return None
        }
      }
      i += 1
    }
    Some(map)
  }

  /** Per-written-field (min, sum) offsets within a stats line whose
    * stat fields start at `base`. sumOff = -1 for STRING columns. */
  private def writtenOffsets(written: StructType, base: Int)
      : (Array[Int], Array[Int]) = {
    val wn = written.length
    val minOff = new Array[Int](wn)
    val sumOff = new Array[Int](wn)
    var pos = base
    var j = 0
    while (j < wn) {
      minOff(j) = pos; pos += 2
      if (numeric(written(j).dataType)) { sumOff(j) = pos; pos += 1 }
      else sumOff(j) = -1
      j += 1
    }
    (minOff, sumOff)
  }

  /** Build one declared-order Entry from a written-order stats line
    * through a [[lineageMap]]: mapped columns read stored min/max/sum,
    * added columns synthesize their constant (sum = default·count). */
  private def remapEntry(declared: StructType,
      map: Array[Either[(Int, Boolean), (Boolean, String)]],
      minOff: Array[Int], sumOff: Array[Int],
      f: Array[String], rawKey: String, count: Long): Entry = {
    val n = declared.length
    val mins = new Array[String](n)
    val maxs = new Array[String](n)
    val sums = new Array[Long](n)
    var k = 0
    while (k < n) {
      map(k) match {
        case Left((w, fpWiden)) =>
          if (fpWiden) {
            // FLOAT-written digits under a DOUBLE declaration: convert
            // through the value domain (monotone — min stays min)
            mins(k) = floatDigitsAsDouble(f(minOff(w)))
            maxs(k) = floatDigitsAsDouble(f(minOff(w) + 1))
          } else {
            mins(k) = f(minOff(w)); maxs(k) = f(minOff(w) + 1)
          }
          if (numeric(declared(k).dataType)) sums(k) = f(sumOff(w)).toLong
        case Right((isLong, d)) =>
          mins(k) = d; maxs(k) = d
          if (isLong) sums(k) = Math.multiplyExact(d.toLong, count)
      }
      k += 1
    }
    Entry(rawKey, count, mins, maxs, sums)
  }

  /** Parse the sidecar against the DECLARED schema + key. A header
    * that matches directly (including recorded widenings) parses in
    * place; one that differs but RESOLVES through the layout's
    * schema-evolution lineage (`ops` — renames remap, added columns
    * synthesize min=max=default and sum=default·count, since every
    * pre-evolution row answers the constant) parses ADAPTED, so
    * metadata answers and skipping survive add/rename evolution
    * instead of refusing until a restage (r18 — the Iceberg
    * stats-through-evolution parity). None ⇒ no sidecar, or a header
    * the lineage cannot resolve (foreign layout) — the caller refuses
    * the pushdown and the ordinary data scan answers instead. A
    * PRESENT matching sidecar with a malformed body fails loudly:
    * that is corruption of a file this connector owns, not a foreign
    * layout. */
  private[graft] def read(path: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      widened: Set[String] = Set.empty,
      ops: Seq[KeyedSource.SchemaOp] = Seq.empty): Option[Sidecar] = {
    // resolve the committed generation (idempotent when handed a
    // generation dir directly)
    val root = KeyedSource.effectiveRoot(path, conf.value)
    val p = new org.apache.hadoop.fs.Path(root, SidecarFile)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n", -1).filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header = lines.head.split("", -1)
    if (header.length != 3 || header(0) != Version) return None
    if (!tagCompatible(header(1), declared, widened) || header(2) != key)
      return if (ops.isEmpty) None
        else adaptedParse(root, lines, header, declared, key, ops)
    val arity = lineArity(declared)
    val n = declared.length
    // the table line is structurally distinct from every entry line
    // (1+n fields vs 2+2n or more — never equal for a non-empty schema)
    val (table, entryLines) = lines.tail.toSeq match {
      case first +: rest if first.split("", -1).length == 1 + n =>
        val f = first.split("", -1)
        (Some(TableNdv(f(0).toLong, f.tail.map(_.toLong))), rest)
      case all => (None, all)
    }
    Some(Sidecar(entryLines.map { line =>
      val f = line.split("", -1)
      if (f.length != arity) throw new IllegalStateException(
        s"graft-keyed stats sidecar corrupted at $root: line has ${f.length} " +
          s"fields, schema implies $arity (head: ${line.take(80)})")
      val mins = new Array[String](n)
      val maxs = new Array[String](n)
      val sums = new Array[Long](n)
      var i = 0
      var pos = 2
      while (i < n) {
        mins(i) = f(pos); maxs(i) = f(pos + 1); pos += 2
        if (numeric(declared(i).dataType)) { sums(i) = f(pos).toLong; pos += 1 }
        i += 1
      }
      Entry(f(0), f(1).toLong, mins, maxs, sums)
    }, table))
  }

  /** Lineage-ADAPTED sidecar parse: the generation's header records
    * its WRITTEN schema; each declared column resolves to a written
    * column through the alias chain (type-equal, or INT under a
    * recorded widening) or to its add-op DEFAULT — in which case the
    * stats are synthesized exactly (every pre-evolution row answers
    * the constant: min=max=default, sum=default·count). The stored
    * KEY name must be the declared key or one of its aliases. Any
    * unresolvable column refuses (None — foreign layout, not
    * lineage). Entry lines parse at the WRITTEN arity and remap to
    * declared order; the table NDV line remaps too (a synthesized
    * constant column has NDV 1). */
  private def adaptedParse(root: String, lines: Array[String],
      header: Array[String], declared: StructType, key: String,
      ops: Seq[KeyedSource.SchemaOp]): Option[Sidecar] = {
    val written = try StructType.fromDDL(header(1)) catch {
      case _: Exception => return None
    }
    val map = lineageMap(declared, written, key, header(2), ops)
      .getOrElse(return None)
    val (minOff, sumOff) = writtenOffsets(written, base = 2)
    val wn = written.length
    val wArity = lineArity(written)
    val (tableRaw, entryLines) = lines.tail.toSeq match {
      case first +: rest
          if first.split(PageSource.US, -1).length == 1 + wn =>
        (Some(first.split(PageSource.US, -1)), rest)
      case all => (None, all)
    }
    val entries = entryLines.map { line =>
      val f = line.split(PageSource.US, -1)
      if (f.length != wArity) throw new IllegalStateException(
        s"graft-keyed stats sidecar corrupted at $root: line has ${f.length} " +
          s"fields, written schema implies $wArity (head: ${line.take(80)})")
      remapEntry(declared, map, minOff, sumOff, f,
        rawKey = f(0), count = f(1).toLong)
    }
    val table = tableRaw.map { t =>
      val ndvs = Array.tabulate(declared.length)(k => map(k) match {
        case Left((w, _)) => t(1 + w).toLong // NDV survives conversion
        case Right(_) => 1L // a synthesized constant column
      })
      TableNdv(t(0).toLong, ndvs)
    }
    Some(Sidecar(entries, table))
  }

  /** The WRITTEN schema a generation's sidecar header records —
    * regardless of whether it matches any declared schema (that match
    * gates metadata ANSWERS; schema evolution needs the raw historical
    * truth to map old files under an evolved declared schema). None =
    * no sidecar / unknown version. */
  private[graft] def writtenSchema(genRoot: String,
      conf: org.apache.spark.util.SerializableConfiguration): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(genRoot, SidecarFile)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val head = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().nextOption() finally in.close()
    head.map(_.split(PageSource.US, -1)).collect {
      case Array(Version, tag, _) =>
        try Some(StructType.fromDDL(tag)) catch { case _: Exception => None }
    }.flatten
  }

  /** Merge one key's per-generation entries (a row-level APPEND leaves
    * a key served by several generations): counts and sums add, min/max
    * merge TYPED per column — BIGINT numerically ("10" < "2" as bytes),
    * STRING in UTF8String byte order (the layout's comparison order;
    * java.lang.String compareTo is UTF-16 code-unit order, which
    * diverges above the BMP). */
  private[sources] def mergeEntries(declared: StructType, es: Seq[Entry]): Entry = {
    require(es.nonEmpty)
    es.reduce { (a, b) =>
      val n = declared.length
      val mins = new Array[String](n)
      val maxs = new Array[String](n)
      val sums = new Array[Long](n)
      var i = 0
      while (i < n) {
        if (numeric(declared(i).dataType)) {
          mins(i) = math.min(a.mins(i).toLong, b.mins(i).toLong).toString
          maxs(i) = math.max(a.maxs(i).toLong, b.maxs(i).toLong).toString
          sums(i) = Math.addExact(a.sums(i), b.sums(i))
        } else if (fp(declared(i).dataType)) {
          // sortable-bits digits: signed numeric order IS double/float
          // order, so the merge is the BIGINT leg minus the sum
          mins(i) = math.min(a.mins(i).toLong, b.mins(i).toLong).toString
          maxs(i) = math.max(a.maxs(i).toLong, b.maxs(i).toLong).toString
        } else {
          def lt(x: String, y: String) =
            UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
          mins(i) = if (lt(a.mins(i), b.mins(i))) a.mins(i) else b.mins(i)
          maxs(i) = if (lt(a.maxs(i), b.maxs(i))) b.maxs(i) else a.maxs(i)
        }
        i += 1
      }
      Entry(a.rawKey, a.count + b.count, mins, maxs, sums)
    }
  }

  // ── Non-key data skipping (r18 — Iceberg/Delta file skipping) ──────
  //
  // The sidecar already stores per-key min/max for EVERY column; until
  // r18 only KEY-grain predicates pruned directories, so a selective
  // non-key range scan (the reference's 7-day recency predicate,
  // reference README.md:225 `extracted_at >= DATEADD(day,-7,…)`, over
  // an append-clustered table) read all 16 directories and filtered
  // post-scan. These evaluators close that: a RESIDUAL filter (Spark
  // re-checks it on every emitted row — honor-but-recheck, the lossy-
  // grain contract) additionally SKIPS whole key directories whose
  // sidecar interval PROVES empty. At 100 TB this is the single
  // biggest scan cost the connector's own metadata can eliminate.

  /** (cmp(min, v), cmp(max, v)) for one entry under the column's
    * stored order — numeric for BIGINT/INT, UTF8String byte order for
    * STRING; None = not a comparison this evaluator prices. The ONE
    * comparison both [[canMatch]] and [[allMatch]] read (a future
    * type joining the layout lands here once, for both duals). */
  private def statBounds(e: Entry, schema: StructType,
      attr: String, v: Any): Option[(Int, Int)] = {
    if (!schema.fieldNames.contains(attr) || v == null) return None
    val i = schema.fieldIndex(attr)
    schema(i).dataType match {
      // INTEGRAL boxed types only (r18 ADVICE): longValue on a
      // fractional Number TRUNCATES — LessThan(col, 5.5) against
      // min=5 would read cmp(min, 5)=0 and wrongly prove emptiness.
      // Unreachable today (Spark cast-wraps such pushdowns), but the
      // proof engine must not depend on that.
      case dt if numeric(dt) => v match {
        case n @ (_: java.lang.Long | _: java.lang.Integer |
            _: java.lang.Short | _: java.lang.Byte) =>
          val x = n.asInstanceOf[Number].longValue
          Some((e.mins(i).toLong.compareTo(x), e.maxs(i).toLong.compareTo(x)))
        case _ => None
      }
      // DOUBLE/FLOAT: the stored digits ARE the sortable-bits domain,
      // so the predicate value transforms once and the comparison is
      // the same signed-long compare — including NaN-greatest and
      // -0.0 = +0.0, exactly Spark's evaluation order for the
      // re-checked residual (the duals stay duals)
      case org.apache.spark.sql.types.DoubleType =>
        val x = v match {
          case d: java.lang.Double => sortableDouble(d)
          case f: java.lang.Float => sortableDouble(f.toDouble)
          case _ => return None
        }
        Some((e.mins(i).toLong.compareTo(x), e.maxs(i).toLong.compareTo(x)))
      case org.apache.spark.sql.types.FloatType =>
        val x = v match {
          case f: java.lang.Float => sortableFloat(f).toLong
          case _ => return None
        }
        Some((e.mins(i).toLong.compareTo(x), e.maxs(i).toLong.compareTo(x)))
      case StringType =>
        val x = v match {
          case s: String => UTF8String.fromString(s)
          case u: UTF8String => u
          case _ => return None
        }
        Some((UTF8String.fromString(e.mins(i)).compareTo(x),
          UTF8String.fromString(e.maxs(i)).compareTo(x)))
      case _ => None
    }
  }

  /** Three-valued evaluation, "exists" side: may any stored row of
    * this entry satisfy `f`? `false` is a PROOF of emptiness (the
    * planner skips the directory); `true` means "cannot prove" — plan
    * it, the post-scan Filter re-checks rows, so an imprecise `true`
    * costs I/O, never correctness. Comparisons are TYPED like
    * [[mergeEntries]]: BIGINT numeric, STRING in UTF8String byte
    * order — the exact order the writers derived min/max under.
    * Null-probing predicates resolve from the layout's no-null
    * invariant (IsNull can never match, IsNotNull always can);
    * unknown shapes and foreign columns return `true`. */
  private[graft] def canMatch(f: org.apache.spark.sql.sources.Filter,
      e: Entry, schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    // (cmp(min, v), cmp(max, v)) under the column's stored order;
    // None = not a single-column comparison this evaluator prices
    def bounds(attr: String, v: Any): Option[(Int, Int)] =
      statBounds(e, schema, attr, v)
    f match {
      case EqualTo(a, v) => bounds(a, v).forall { case (lo, hi) => lo <= 0 && hi >= 0 }
      case EqualNullSafe(a, v) =>
        if (v == null) false // no nulls stored
        else bounds(a, v).forall { case (lo, hi) => lo <= 0 && hi >= 0 }
      case GreaterThan(a, v) => bounds(a, v).forall(_._2 > 0)
      case GreaterThanOrEqual(a, v) => bounds(a, v).forall(_._2 >= 0)
      case LessThan(a, v) => bounds(a, v).forall(_._1 < 0)
      case LessThanOrEqual(a, v) => bounds(a, v).forall(_._1 <= 0)
      case In(a, vs) =>
        vs == null || vs.exists(v =>
          if (v == null) false
          else bounds(a, v).forall { case (lo, hi) => lo <= 0 && hi >= 0 })
      case IsNull(_) => false
      case IsNotNull(_) => true
      case And(l, r) => canMatch(l, e, schema) && canMatch(r, e, schema)
      case Or(l, r) => canMatch(l, e, schema) || canMatch(r, e, schema)
      case Not(p) => !allMatch(p, e, schema)
      case StringStartsWith(a, p) if p != null &&
          schema.fieldNames.contains(a) &&
          schema(schema.fieldIndex(a)).dataType == StringType =>
        // strings with prefix p form [p, succ(p)); compare the entry
        // bounds TRUNCATED to |p| bytes — trunc(min) > p or
        // trunc(max) < p proves no overlap
        val i = schema.fieldIndex(a)
        val pu = UTF8String.fromString(p)
        def trunc(s: String): UTF8String = {
          val u = UTF8String.fromString(s)
          if (u.numBytes <= pu.numBytes) u
          else UTF8String.fromBytes(u.getBytes, 0, pu.numBytes)
        }
        !(trunc(e.mins(i)).compareTo(pu) > 0 || trunc(e.maxs(i)).compareTo(pu) < 0)
      case _ => true
    }
  }

  /** The "forall" dual: do ALL stored rows of this entry provably
    * satisfy `f`? `true` requires proof (it licenses skipping under
    * Not); `false` means "cannot prove". */
  private[graft] def allMatch(f: org.apache.spark.sql.sources.Filter,
      e: Entry, schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(attr: String, v: Any): Option[(Int, Int)] =
      statBounds(e, schema, attr, v)
    f match {
      case EqualTo(a, v) => bounds(a, v).exists { case (lo, hi) => lo == 0 && hi == 0 }
      case EqualNullSafe(a, v) =>
        v != null && bounds(a, v).exists { case (lo, hi) => lo == 0 && hi == 0 }
      case GreaterThan(a, v) => bounds(a, v).exists(_._1 > 0)
      case GreaterThanOrEqual(a, v) => bounds(a, v).exists(_._1 >= 0)
      case LessThan(a, v) => bounds(a, v).exists(_._2 < 0)
      case LessThanOrEqual(a, v) => bounds(a, v).exists(_._2 <= 0)
      case In(a, vs) =>
        vs != null && vs.exists(v => v != null &&
          bounds(a, v).exists { case (lo, hi) => lo == 0 && hi == 0 })
      case IsNull(_) => false // no nulls stored, so "all null" never holds
      case IsNotNull(_) => true // … and "all non-null" always does
      case And(l, r) => allMatch(l, e, schema) && allMatch(r, e, schema)
      case Or(l, r) => allMatch(l, e, schema) || allMatch(r, e, schema)
      case Not(p) => !canMatch(p, e, schema)
      case _ => false
    }
  }

  /** Keys PROVABLY empty under the residual conjuncts (each pushed
    * filter is one conjunct, so ANY single proof suffices). Skips only
    * keys whose entry carries trustworthy intervals: a key in
    * [[Sidecar.unresolvedDvKeys]] (pre-patch deletion vectors — its
    * min/max still include deleted rows) never skips, per the
    * conservative refusal the DV stats-patch discipline pins. */
  private[graft] def skippableKeys(sc: Sidecar,
      residuals: Seq[org.apache.spark.sql.sources.Filter],
      schema: StructType): Set[String] =
    if (residuals.isEmpty) Set.empty
    else sc.entries.iterator.filter { e =>
      !sc.unresolvedDvKeys.contains(e.rawKey) &&
        residuals.exists(f => !canMatch(f, e, schema))
    }.map(_.rawKey).toSet

  /** Render the per-generation NDV sketch file: header pins version +
    * schema + key (the sidecar trust discipline), then one line per
    * column with its US-joined sorted hash values. */
  private[sources] def renderNdv(schema: StructType, key: String,
      hashes: Array[Array[Long]]): String = {
    val sb = new StringBuilder
    sb.append(NdvVersion).append(PageSource.US).append(schemaTag(schema))
      .append(PageSource.US).append(key).append('\n')
    hashes.foreach { hs =>
      sb.append(hs.mkString(PageSource.US)).append('\n')
    }
    sb.toString
  }

  /** Parse one generation's NDV sketch file against the declared
    * schema + key. The header must match directly or differ only by
    * recorded widenings whose hash domain is unchanged (INT→BIGINT:
    * values were hashed as longs either way). Renames/adds and the
    * FLOAT→DOUBLE widening refuse (None): their hash domains or
    * column maps diverge, and an NDV silently merged across diverging
    * domains would double-count — the conservative refusal drops the
    * view to the no-NDV behavior, never a wrong number. */
  private def readNdv(genRoot: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      widened: Set[String]): Option[Array[Array[Long]]] = {
    val p = new org.apache.hadoop.fs.Path(genRoot, NdvFile)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // split KEEPING empty lines: a zero-hash column renders empty and
    // must hold its position
    val lines = text.split("\n", -1).dropRight(1)
    if (lines.isEmpty) return None
    val header = lines.head.split(PageSource.US, -1)
    if (header.length != 3 || header(0) != NdvVersion) return None
    // the INT-widen relaxation only: same digits, same hash domain.
    // An fp widening must refuse here even though tagCompatible would
    // accept it for min/max — hashes of float bits ≠ hashes of the
    // promoted doubles' bits.
    val fpWidened = declared.fields.exists(f =>
      f.dataType == org.apache.spark.sql.types.DoubleType &&
        widened.contains(f.name))
    if (fpWidened || !tagCompatible(header(1), declared, widened) ||
        header(2) != key) return None
    if (lines.length != 1 + declared.length) throw new IllegalStateException(
      s"graft-keyed ndv file corrupted at $genRoot: ${lines.length - 1} " +
        s"column lines, schema implies ${declared.length}")
    Some(lines.tail.map(l =>
      if (l.isEmpty) Array.empty[Long]
      else l.split(PageSource.US, -1).map(_.toLong)))
  }

  /** Merged table NDV for an EDITED view (r19): union each column's
    * per-generation KMV sketches across the base generation and every
    * generation serving an edit, truncate to the k smallest, estimate.
    * None when any serving generation lacks a trustworthy sketch file
    * (pre-r19 layout, foreign mutation, refused evolution) — the
    * pre-r19 behavior, honestly. ESTIMATE SEMANTICS: the union covers
    * every value the serving generations' FILES hold, including rows
    * a copy-on-write edit replaced within the base generation and
    * DV-deleted rows (sketches cannot subtract) — an upper-bound NDV,
    * capped by live row count at the consumer
    * (KeyedScan.computeStats), which is exactly how Iceberg's
    * merged-manifest NDVs behave between compactions. */
  private def mergedNdvTable(view: KeyedSource.SnapshotView,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String, widened: Set[String],
      liveCount: Long): Option[TableNdv] = {
    val gens: Seq[String] = (view.root +:
      view.edits.valuesIterator.flatten.toSeq.map(view.genRoot)).distinct
    val sketches = Array.fill(declared.length)(new KmvSketch)
    val all = gens.forall { g =>
      readNdv(g, conf, declared, key, widened) match {
        case Some(cols) =>
          var i = 0
          while (i < cols.length) { sketches(i).addHashes(cols(i)); i += 1 }
          true
        case None => false
      }
    }
    if (all) Some(TableNdv(liveCount, sketches.map(_.estimate))) else None
  }

  /** FILE-grain skipping inside kept keys (r19 — Iceberg prunes at
    * file grain through its manifests; until now a matched key read
    * EVERY generation file serving it, and at 100 TB one hot key's
    * directory is itself TB-scale). For each row-level-edited key the
    * residual conjuncts are re-proved against each serving
    * generation's OWN per-(key, generation) sidecar entry — stats the
    * writers already derive, no new metadata — and a generation whose
    * entry PROVES the conjuncts empty drops from the key's dir list.
    * Conservative refusals: DV'd keys (deletion-vector ordinals index
    * the key's CONCATENATED stream — dropping a middle file would
    * shift every later ordinal), keys already skipped whole, and any
    * generation whose sidecar misses the key's line (no proof ⇒ plan
    * it). Composes with evolution exactly like the view read: each
    * generation's sidecar parses adapted through the lineage. Returns
    * raw key → the generation names to drop. */
  private[graft] def skippableFiles(view: KeyedSource.SnapshotView,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      residuals: Seq[org.apache.spark.sql.sources.Filter],
      skipKeys: Set[String],
      genMemo: scala.collection.mutable.Map[String, Option[Sidecar]] = null)
      : Map[String, Set[String]] = {
    if (residuals.isEmpty || view.edits.isEmpty) return Map.empty
    val widened = KeyedSource.widenedColumns(view.ops)
    // per-generation parses shared with the builder's readView when a
    // memo is handed in (round-19 review: both walked the same
    // sidecars — doubled driver metadata reads per filtered plan on
    // exactly the DML-heavy tables this feature targets)
    val perGen = if (genMemo != null) genMemo
      else scala.collection.mutable.Map.empty[String, Option[Sidecar]]
    def sidecarOf(g: String): Option[Sidecar] =
      perGen.getOrElseUpdate(g,
        read(view.genRoot(g), conf, declared, key, widened, view.ops))
    view.edits.iterator.collect {
      case (raw, gens) if !view.dvs.contains(raw) && !skipKeys.contains(raw) =>
        val dropped = gens.filter { g =>
          sidecarOf(g).flatMap(_.entries.find(_.rawKey == raw))
            .exists(e => residuals.exists(f => !canMatch(f, e, declared)))
        }.toSet
        raw -> dropped
    }.filter(_._2.nonEmpty).toMap
  }

  /** Snapshot-view sidecar: the metadata twin of
    * [[KeyedSource.SnapshotView.liveKeyDirs]]. Edit-free views reduce
    * to the base-generation sidecar read (entries unfiltered —
    * callers prune tombstones, as ever). With edits, returns LIVE
    * per-key entries only: base entries for unedited keys, and for
    * each edited key the TYPED merge of its generations' entries. Any
    * generation whose sidecar is absent, header-mismatched, or missing
    * the key's line refuses the whole read (None — metadata answers
    * fall back to the data scan). The table-level NDV line: edit-free
    * views claim the base generation's directly; edited views MERGE
    * the per-generation KMV sketch files (r19 — [[mergedNdvTable]];
    * the sketches travel now, so "estimates do not merge" stopped
    * being true) and refuse only when a serving generation lacks a
    * trustworthy sketch. */
  private[graft] def readView(view: KeyedSource.SnapshotView,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String,
      genMemo: scala.collection.mutable.Map[String, Option[Sidecar]] = null)
      : Option[Sidecar] = {
    // recorded INT->BIGINT widenings relax the per-generation header
    // check: a pre-widening generation's sidecar stays trusted (same
    // digits, same arity) instead of refusing as foreign
    val widened = KeyedSource.widenedColumns(view.ops)
    val base = read(view.root, conf, declared, key, widened, view.ops)
    val perGen = if (genMemo != null) genMemo
      else scala.collection.mutable.Map.empty[String, Option[Sidecar]]
    def sidecarOf(g: String): Option[Sidecar] =
      perGen.getOrElseUpdate(g,
        read(view.genRoot(g), conf, declared, key, widened, view.ops))
    val merged: Option[Sidecar] =
      if (view.edits.isEmpty) base
      else base.flatMap { b =>
        val baseOnly = b.entries.filterNot(e =>
          view.tombstones.contains(e.rawKey) || view.edits.contains(e.rawKey))
        val edited: Option[Seq[Entry]] = view.edits.toSeq.sortBy(_._1)
          .foldLeft(Option(Seq.empty[Entry])) { case (acc, (k, gens)) =>
            for {
              a <- acc
              parts <- {
                val es = gens.map(g =>
                  sidecarOf(g).flatMap(_.entries.find(_.rawKey == k)))
                if (es.forall(_.isDefined)) Some(es.flatten) else None
              }
            } yield a :+ mergeEntries(declared, parts)
          }
        edited.map { ed =>
          val entries = baseOnly ++ ed
          Sidecar(entries, mergedNdvTable(view, conf, declared, key,
            widened, entries.map(_.count).sum))
        }
      }
    if (view.dvs.isEmpty) merged
    else merged.map(sc => applyDvs(view, conf, declared, key, sc, sidecarOf))
  }

  /** Deletion-vector correction of a view's entries (r17). Entries of
    * DV-free keys pass through. A DV'd key resolves through its LAST
    * dv ref's generation PATCH (exact post-delete stats) merged with
    * the sidecar entries of any generations appended after the patch;
    * with no patch (pre-r17 dv commit) the entry keeps its exact
    * count (sidecar count minus the dv filenames' cardinalities) but
    * its min/max/sum still include deleted rows — the key lands in
    * `unresolvedDvKeys` and non-count aggregates refuse. A key whose
    * every row is deleted DROPS from the entries: the group is gone,
    * exactly what the data scan would answer. */
  private def applyDvs(view: KeyedSource.SnapshotView,
      conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType, key: String, sc: Sidecar,
      sidecarOf: String => Option[Sidecar]): Sidecar = {
    val patches = scala.collection.mutable.Map
      .empty[String, Option[Map[String, (Entry, Int)]]]
    val widened = KeyedSource.widenedColumns(view.ops)
    def patchOf(g: String): Option[Map[String, (Entry, Int)]] =
      patches.getOrElseUpdate(g,
        readPatch(view.genRoot(g), conf, declared, key, widened, view.ops))
    var unresolved = Set.empty[String]
    val entries = sc.entries.flatMap { e =>
      view.dvs.get(e.rawKey) match {
        case None => Some(e)
        case Some(refs) =>
          val dirList: Seq[String] =
            view.edits.getOrElse(e.rawKey, view.gen.toSeq)
          val lastGen = refs.last.takeWhile(_ != '/')
          def countFallback: Option[Entry] = {
            val dv = refs.map(KeyedSource.dvCountOf).sum
            val c = e.count - dv
            if (c <= 0L) None
            else { unresolved += e.rawKey; Some(e.copy(count = c)) }
          }
          patchOf(lastGen).flatMap(_.get(e.rawKey)) match {
            case Some((pe, covered)) if covered <= dirList.length =>
              val later = dirList.drop(covered).map(g =>
                sidecarOf(g).flatMap(_.entries.find(_.rawKey == e.rawKey)))
              if (later.forall(_.isDefined)) {
                // a zero-count patch entry holds placeholder min/max —
                // merge only the real parts
                val parts = (if (pe.count > 0) Seq(pe) else Nil) ++ later.flatten
                if (parts.isEmpty) None else Some(mergeEntries(declared, parts))
              } else countFallback
            case _ => countFallback
          }
      }
    }
    Sidecar(entries, sc.table, unresolved)
  }
}

/** The pushed-aggregate scan: ≤ |key domain| pre-projected metadata
  * rows, zero data files opened. `groupByKey` prepends the key value
  * to each output row; bare aggregates emit one partial row per
  * surviving key (Spark's final aggregate merges them) or the
  * zero-survivor sentinel. */
final class KeyedStatsScan(schema: StructType, path: String, key: String,
    keyType: DataType, groupByKey: Boolean,
    stats: Array[KeyedStats.Stat], entries: Seq[KeyedStats.Entry])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftKeyedStats path=$path agg=[${stats.map(_.name).mkString(",")}]" +
      (if (groupByKey) s" groupBy=$key" else "") +
      s" entries=${entries.length} (sidecar only, zero data files)"

  override def planInputPartitions(): Array[InputPartition] = {
    val rows: Array[Array[Any]] =
      if (entries.isEmpty && !groupByKey)
        Array(stats.map(_.sentinel))
      else entries.toArray.map { e =>
        val base = stats.map(_.of(e))
        if (groupByKey) {
          val k: Any = keyType match {
            case LongType => e.rawKey.toLong
            case _ => UTF8String.fromString(e.rawKey)
          }
          k +: base
        } else base
      }
    Array(KeyedStatsPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedStatsReaderFactory
}

/** Pre-projected metadata rows; values are already the Catalyst
  * runtime representations (Long / UTF8String / null). Bounded by the
  * key domain — the same driver-side bound the directory listing
  * itself implies. */
final case class KeyedStatsPartition(rows: Array[Array[Any]]) extends InputPartition

final class KeyedStatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[KeyedStatsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** The `snapshots` METADATA TABLE (read option `metadata=snapshots` —
  * Iceberg's `t.snapshots` shape): one row per RETAINED snapshot with
  * `seq`, `live_keys`/`live_rows` (that generation's sidecar entries
  * minus its tombstones — what a reader of the snapshot would see),
  * and `tombstoned_keys`. Makes retention and purge state queryable
  * from SQL — the audit q64's workflow needs ("what did the purge
  * remove, and which snapshots still see it?") without shelling into
  * layout internals. Driver-computed like [[KeyedStatsScan]] (bounded
  * by retain × |key domain| sidecar lines, zero data files) and
  * reusing its partition/reader. A path with no commit log (an empty
  * table) reports ZERO snapshots — nothing was committed, so nothing
  * is claimed; a committed generation whose sidecar is missing
  * (foreign mutation) reports NULL keys/rows rather than guessing. */
final class KeyedSnapshotsScanBuilder(declared: StructType, path: String,
    key: String, conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.ScanBuilder {
  override def build(): Scan = new KeyedSnapshotsScan(declared, path, key, conf)
}

object KeyedSnapshotsScan {
  import org.apache.spark.sql.types.StructField
  // `branch` (r18 ADVICE): NULL for main-lineage snapshots, the branch
  // name for unpublished branch states — without it the table
  // interleaved branch workspaces into what reads as main history, and
  // an auditor of main lineage could not tell them apart. Appended
  // last so positional consumers of the original quartet keep reading.
  val Schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("live_keys", LongType, nullable = true),
    StructField("tombstoned_keys", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = true),
    StructField("branch", StringType, nullable = true)))
}

final class KeyedSnapshotsScan(declared: StructType, path: String, key: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = KeyedSnapshotsScan.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftKeyedSnapshots path=$path (metadata table, zero data files)"

  override def planInputPartitions(): Array[InputPartition] = {
    val rows: Array[Array[Any]] =
      KeyedSource.readCommitLog(path, conf.value) match {
        case None => Array.empty
        case Some(log) => log.snapshots.toArray.map { snap =>
          // each snapshot reads through its OWN view (base generation,
          // tombstones, row-level edits) — exactly what a reader of
          // that snapshot would see
          val view = KeyedSource.SnapshotView(path, snap.seq,
            Some(snap.gen), snap.tombstones, snap.edits, dvs = snap.dvs)
          // readView serves DV-corrected entries (patched keys exact,
          // unpatched keys count-corrected from the dv filenames'
          // cardinality, fully-deleted keys dropped — a key with zero
          // live rows is not a live key)
          val visible = KeyedStats.readView(view, conf, declared, key)
            .map(_.entries.filterNot(e => snap.tombstones.contains(e.rawKey)))
          Array[Any](snap.seq,
            visible.fold(null: Any)(v => v.length.toLong),
            snap.tombstones.size.toLong,
            visible.fold(null: Any)(_.map(_.count).sum),
            snap.branch.map(UTF8String.fromString).orNull)
        }
      }
    Array(KeyedStatsPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedStatsReaderFactory
}

object KeyedStatsScan {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  /** Translate a pushed [[Aggregation]] into sidecar stats, or None
    * when any part is not metadata-answerable (the refusal legs in
    * the object scaladoc). `(groupByKey, stats, output schema)`. */
  def translate(agg: Aggregation, full: StructType, key: String)
      : Option[(Boolean, Array[KeyedStats.Stat], StructType)] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            full.fieldNames.contains(r.fieldNames()(0)) =>
          Some(full.fieldIndex(r.fieldNames()(0)))
        case _ => None
      }
    val groupByKey = agg.groupByExpressions.toSeq match {
      case Seq() => Some(false)
      case Seq(r: NamedReference) if r.fieldNames.toSeq == Seq(key) => Some(true)
      case _ => None
    }
    val stats: Array[Option[KeyedStats.Stat]] = agg.aggregateExpressions.map {
      case _: CountStar => Some(KeyedStats.CountStat("count(*)"))
      case c: Count if !c.isDistinct =>
        // framed layouts store no nulls, so count(col) ≡ count(*)
        colOf(c.column).map(i => KeyedStats.CountStat(s"count(${full(i).name})"))
      case m: Min => colOf(m.column).map(i =>
        KeyedStats.MinStat(i, full(i).name, full(i).dataType))
      case m: Max => colOf(m.column).map(i =>
        KeyedStats.MaxStat(i, full(i).name, full(i).dataType))
      case s: Sum if !s.isDistinct => colOf(s.column).collect {
        case i if KeyedStats.numeric(full(i).dataType) => KeyedStats.SumStat(i, full(i).name)
      }
      case _ => None
    }
    for {
      g <- groupByKey
      if stats.forall(_.isDefined)
    } yield {
      val ss = stats.map(_.get)
      val fields =
        (if (g) Seq(StructField(key, full(full.fieldIndex(key)).dataType,
          nullable = false)) else Seq.empty) ++
          ss.map(s => StructField(s.name, s.dataType, nullable = true))
      (g, ss, StructType(fields))
    }
  }
}
