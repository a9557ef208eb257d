package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

/** Compaction (OPTIMIZE) for `graft-keyed` layouts — the maintenance
  * commit that repairs FRAGMENTATION: append commits and MERGE inserts
  * serve a key from several generations' files
  * ([[KeyedSource.Snapshot]] multi-entry edit lists), which costs a
  * concat per read, drops the stored-order claim
  * ([[KeyedSource.readOrderMarkerView]] — and with it SMJ-without-Sort
  * and TopN pushdown), and accretes small files. `compact` rewrites
  * exactly the fragmented keys into ONE new generation (one sorted
  * file per key when the layout records an order) and commits a
  * snapshot in which those keys reference the compacted generation
  * while every other key — and the base generation's bytes — carry
  * forward untouched. Iceberg's rewrite_data_files, at this layout's
  * key grain.
  *
  * The commit is SERIALIZABLE like row-level DML: rows were read from
  * the head snapshot; if any commit lands between that read and the
  * CAS claim, the rewrite fails loudly (re-run) rather than rebase —
  * an append to a fragmented key racing the compaction would otherwise
  * be silently dropped.
  *
  * Compaction changes PHYSICAL layout only: time travel to the
  * pre-compaction snapshot still reads the fragmented form, and the
  * changes table nets a compaction interval to ZERO rows (same
  * content, different references — CDC consumers never see maintenance
  * commits, the Iceberg rewrite-commit contract).
  *
  * At 100 TB: fragmentation grows with ingest frequency, not corpus
  * size — each append touches its keys' edit lists, and compaction
  * reads/writes only `Σ |fragmented keys' rows|`, planned as one task
  * per key (the layout's standing write distribution). Unfragmented
  * keys cost nothing, however many there are. */
object KeyedCompact {

  /** Rewrite every key the head snapshot serves from `minInputFiles`
    * or more files into a single new generation. Returns the number of
    * keys compacted (0 = nothing eligible; no snapshot burned).
    * `minInputFiles` is the scheduling dial (Iceberg's
    * min-input-files): a maintenance job running on a timer raises it
    * so barely-fragmented keys (one append since last compaction)
    * are not rewritten for marginal gain — compaction cost is
    * Σ eligible keys' rows either way, so the dial trades read-side
    * concat width against write amplification. */
  def compact(spark: SparkSession, path: String, schema: StructType,
      key: String, minInputFiles: Int = 2): Int = {
    require(minInputFiles >= 2,
      s"minInputFiles must be >= 2 (a single-file key has nothing to merge), " +
        s"got $minInputFiles")
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val log = KeyedSource.requireLog(path, hconf, "compaction")
    val head = log.head
    val scanSeq = head.seq
    // eligible: multi-file keys (appends/MERGE inserts) AND any key
    // carrying deletion vectors (merge-on-read deletes) — compaction is
    // what folds DVs into clean files, dropping the per-row bitset
    // probe, and restores metadata answers for those keys
    val frag: Seq[String] = (head.edits.collect {
      case (k, gens) if gens.length >= minInputFiles => k
    } ++ head.dvs.keys).toSeq.distinct.sorted
    if (frag.isEmpty) return 0

    // the layout's recorded order (base generation's marker): compacted
    // files are written back SORTED so the single-dir claim resurrects
    val sortBy: Seq[String] =
      KeyedSource.readOrderMarker(path, conf, schema, key,
        KeyedSource.widenedColumns(log.ops),
        KeyedSource.lineageOf(log.ops)._1).getOrElse(Seq.empty)

    // read ONLY the fragmented keys, pinned to the scanned snapshot
    // (pushed key IN prunes to their directories)
    val keyVals: Seq[Any] = schema(key).dataType match {
      case LongType => frag.map(_.toLong)
      case _ => frag
    }
    val df = spark.read.format("graft-keyed")
      .option("path", path)
      .option("schema", schema.toDDL)
      .option("key", key)
      .option("asOf", scanSeq.toString)
      .load()
      .where(col(key).isin(keyVals: _*))

    val genName = "_gen-compact-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val genDir = s"$path/$genName"
    // the rewrite inherits the layout's codec (per-file extension probe)
    val codec = KeyedSource.codecOfHead(path, hconf)
    val orderCols = (key +: sortBy).map(col)

    // the standing write distribution: each key wholly in one task,
    // key-first sorted — the same audited writer the connector's
    // write paths use, so the compacted generation carries a sidecar
    // derived from exactly the rows written
    // explicit fan-out (r19 ADVICE): a bare repartition(col) is
    // coalescible to ONE task under advisory-sized AQE coalescing
    // (parallelismFirst=false), serializing per-key file creation —
    // the same pin KeyedWrite.requiredNumPartitions carries
    val msgs: Array[KeyedCommitMessage] = df
      .repartition(spark.sessionState.conf.numShufflePartitions, col(key))
      .sortWithinPartitions(orderCols: _*)
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val w = new KeyedDataWriter(schema, key, genDir, pid.toLong, conf, codec)
          var ok = false
          try {
            it.foreach(w.write)
            val m = w.commit().asInstanceOf[KeyedCommitMessage]
            ok = true
            Iterator.single(m)
          } finally if (!ok) w.abort()
        }
      }.collect() // bounded: one COMMIT MESSAGE per non-empty task (≤ shuffle
                  // partitions), each holding per-key stats — the same driver
                  // payload every DSv2 BatchWrite.commit receives, never rows

    val entries = msgs.toSeq.flatMap(_.keys)
    val dup = entries.groupBy(_.rawKey).collect { case (k, g) if g.size > 1 => k }
    if (dup.nonEmpty) throw new IllegalStateException(
      s"graft-keyed compaction produced ${dup.size} keys in multiple tasks " +
        s"(${dup.take(3).mkString(",")}…): clustering contract violated, not publishing")
    val written = entries.map(_.rawKey).toSet
    require(written.subsetOf(frag.toSet),
      s"compaction must rewrite only the fragmented keys " +
        s"(${frag.mkString(",")}), wrote ${written.toSeq.sorted.mkString(",")}")
    // an eligible key with ZERO live rows (every row removed by
    // deletion vectors) writes no file and no sidecar entry — that is
    // a FULL DELETE, not a failure: the commit tombstones it and drops
    // its dvs/edits, the same outcome a key-grain DELETE would record
    val fullyDeleted: Set[String] = frag.toSet -- written

    val root = new org.apache.hadoop.fs.Path(path)
    val gen = new org.apache.hadoop.fs.Path(root, genName)
    val fs = root.getFileSystem(hconf)
    val mergedSk = Array.fill(schema.length)(new KmvSketch)
    msgs.foreach(_.sketches.zipWithIndex.foreach { case (hs, i) =>
      mergedSk(i).addHashes(hs) })
    val table = KeyedStats.TableNdv(entries.map(_.count).sum,
      mergedSk.map(_.estimate))
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.SidecarFile),
      KeyedStats.render(schema, key,
        entries.map(e => KeyedStats.Entry(e.rawKey, e.count, e.mins, e.maxs, e.sums)),
        Some(table)))
    // KMV sketch bytes (r19) — a compaction's rewritten keys keep the
    // merged-NDV read alive across exactly the mix it creates
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.NdvFile),
      KeyedStats.renderNdv(schema, key, mergedSk.map(_.hashes)))
    if (sortBy.nonEmpty)
      KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedSource.OrderFile),
        KeyedSource.renderOrderMarker(schema, key, sortBy))

    try {
      KeyedSource.commitLoop(path, hconf, "compaction commit") { prior =>
        val l = KeyedSource.requireLog(path, prior, "compaction commit")
        val h = l.head
        // SERIALIZABLE: the rewrite holds rows read from scanSeq; any
        // commit since (an append to a fragmented key, a DML, an
        // overwrite) invalidates them — fail loudly, never rebase
        if (h.seq != scanSeq) throw new IllegalStateException(
          s"graft-keyed compaction at $path conflicts with a concurrent " +
            s"commit: rows were read from snapshot $scanSeq but the head is " +
            s"now ${h.seq}; re-run the compaction against the fresh table")
        val edits = (h.edits -- fullyDeleted) ++
          written.toSeq.sorted.map(k => k -> Seq(genName))
        // compacted keys fold their deletion vectors in (the rewrite
        // read the DV-applied view); zero-live-row keys tombstone
        Some(l.append(KeyedSource.Snapshot(l.nextSeq, h.gen,
          h.tombstones ++ fullyDeleted, edits, h.dvs -- frag)))
      }
    } catch {
      case t: Throwable =>
        // nothing was published (commitLoop throws only then): own
        // staging only; the live layout is untouched
        fs.delete(gen, true)
        throw t
    }
    frag.size
  }

  /** BUCKET-COUNT / KEY-DERIVATION EVOLUTION by reference (r17): commit
    * a new key assignment — `newKey` is the evolved derivation over the
    * row (e.g. `col("doc_id") % 32` over a layout staged at
    * `doc_id % 16`, or a CASE splitting one hot bucket) — rewriting
    * ONLY the keys whose rows change assignment and carrying every
    * other key by reference. The physics, stated honestly:
    *
    *  - splitting a single hot bucket (skew repair, the common 100 TB
    *    case) rewrites exactly that bucket's rows — one directory read,
    *    two written, everything else untouched bytes;
    *  - DOUBLING the fan-out (`% 16` → `% 32`) changes every bucket's
    *    assignment for half its rows, so every bucket is read once and
    *    split into exactly two new directories — a one-pass
    *    reorganization, which is the floor for a stored key COLUMN
    *    (the dirname and the row value must agree);
    *  - HALVING could merge directories by reference alone, but the
    *    stored key values would then disagree with their directory —
    *    so it too rewrites the changed rows, same one-pass bound.
    *
    * The commit is SERIALIZABLE like compaction (scanned-seq check,
    * fail loudly on a race), atomic (one CAS swap), and
    * history-preserving: time travel to the pre-evolution snapshot
    * still reads the old grain, tags keep protecting theirs. Rows
    * landing in a key that ALREADY has live content append after its
    * files (the standing edit mechanism); a changed key whose every
    * row moved away tombstones. Changed keys fold their deletion
    * vectors (the scan read the DV-applied view); unaffected keys
    * keep theirs.
    *
    * A DETECTION scan finds the changed keys first — projection-pruned
    * to the key column and `newKey`'s inputs, far cheaper than the
    * rewrite — so "which buckets move" is measured, never guessed.
    * Returns the number of source keys rewritten (0 = assignment
    * unchanged; no snapshot burned). */
  def rebucket(spark: SparkSession, path: String, schema: StructType,
      key: String, newKey: org.apache.spark.sql.Column): Int = {
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val log = KeyedSource.requireLog(path, hconf, "re-bucketing")
    val head = log.head
    val scanSeq = head.seq
    val keyType = schema(key).dataType
    val evolved = newKey.cast(keyType)
    def readHead = spark.read.format("graft-keyed")
      .option("path", path)
      .option("schema", schema.toDDL)
      .option("key", key)
      .option("asOf", scanSeq.toString)
      .load()
    // ONE detection pass (r18 review: the NULL guard and the moved-key
    // scan each read the table; fold them into a single projection-
    // pruned aggregation): count NULL assignments — a partial CASE
    // would silently keep its rows' old buckets, and the framed layout
    // cannot store a NULL key anyway — and collect the distinct moved
    // source keys (bounded: the key-domain class).
    import org.apache.spark.sql.functions.{collect_set, sum, when, lit}
    val det = readHead
      .select(col(key).as("_k"), evolved.as("_ev"))
      .where(col("_ev").isNull || col("_ev") =!= col("_k"))
      .agg(sum(when(col("_ev").isNull, lit(1L)).otherwise(lit(0L))).as("_nulls"),
        collect_set(when(col("_ev").isNotNull, col("_k"))).as("_moved"))
      .head()
    val nullAssigned = if (det.isNullAt(0)) 0L else det.getLong(0)
    if (nullAssigned > 0) throw new IllegalArgumentException(
      s"graft-keyed rebucket: the new key expression evaluates to NULL for " +
        s"$nullAssigned row(s) — every row must receive a non-null " +
        "assignment (a partial CASE needs an ELSE)")
    val changed: Seq[String] =
      det.getSeq[Any](1).map(String.valueOf).sorted
    if (changed.isEmpty) return 0
    val changedVals: Seq[Any] = keyType match {
      case LongType => changed.map(_.toLong)
      case _ => changed
    }
    val sortBy: Seq[String] =
      KeyedSource.readOrderMarker(path, conf, schema, key,
        KeyedSource.widenedColumns(log.ops),
        KeyedSource.lineageOf(log.ops)._1).getOrElse(Seq.empty)
    val genName = "_gen-rebucket-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val genDir = s"$path/$genName"
    // the rewrite inherits the layout's codec (per-file extension probe)
    val codec = KeyedSource.codecOfHead(path, hconf)
    // rewrite the changed keys' rows under their NEW assignment, one
    // sorted file per new key — the standing write distribution
    val rekeyed = readHead
      .where(col(key).isin(changedVals: _*))
      .withColumn(key, evolved)
    val orderCols = (key +: sortBy).map(col)
    // explicit fan-out: same coalescing-proof pin as compact() above
    val msgs: Array[KeyedCommitMessage] = rekeyed
      .repartition(spark.sessionState.conf.numShufflePartitions, col(key))
      .sortWithinPartitions(orderCols: _*)
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val w = new KeyedDataWriter(schema, key, genDir, pid.toLong, conf, codec)
          var ok = false
          try {
            it.foreach(w.write)
            val m = w.commit().asInstanceOf[KeyedCommitMessage]
            ok = true
            Iterator.single(m)
          } finally if (!ok) w.abort()
        }
      }.collect() // one commit message per non-empty task, stats only
    val entries = msgs.toSeq.flatMap(_.keys)
    val dup = entries.groupBy(_.rawKey).collect { case (k, g) if g.size > 1 => k }
    if (dup.nonEmpty) throw new IllegalStateException(
      s"graft-keyed re-bucketing produced ${dup.size} keys in multiple tasks " +
        s"(${dup.take(3).mkString(",")}…): clustering contract violated, not publishing")
    val written: Set[String] = entries.map(_.rawKey).toSet
    val root = new org.apache.hadoop.fs.Path(path)
    val gen = new org.apache.hadoop.fs.Path(root, genName)
    val fs = root.getFileSystem(hconf)
    val mergedSk = Array.fill(schema.length)(new KmvSketch)
    msgs.foreach(_.sketches.zipWithIndex.foreach { case (hs, i) =>
      mergedSk(i).addHashes(hs) })
    val table = KeyedStats.TableNdv(entries.map(_.count).sum,
      mergedSk.map(_.estimate))
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.SidecarFile),
      KeyedStats.render(schema, key,
        entries.map(e => KeyedStats.Entry(e.rawKey, e.count, e.mins, e.maxs, e.sums)),
        Some(table)))
    KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedStats.NdvFile),
      KeyedStats.renderNdv(schema, key, mergedSk.map(_.hashes)))
    if (sortBy.nonEmpty)
      KeyedSource.writeFile(fs, new org.apache.hadoop.fs.Path(gen, KeyedSource.OrderFile),
        KeyedSource.renderOrderMarker(schema, key, sortBy))
    try {
      KeyedSource.commitLoop(path, hconf, "re-bucket commit") { prior =>
        val l = KeyedSource.requireLog(path, prior, "re-bucket commit")
        val h = l.head
        if (h.seq != scanSeq) throw new IllegalStateException(
          s"graft-keyed re-bucketing at $path conflicts with a concurrent " +
            s"commit: rows were read from snapshot $scanSeq but the head is " +
            s"now ${h.seq}; re-run against the fresh table")
        val baseKeys: Set[String] = {
          val baseGen = new org.apache.hadoop.fs.Path(root, h.gen)
          if (fs.exists(baseGen)) fs.listStatus(baseGen).toSeq.collect {
            case st if st.isDirectory && st.getPath.getName.startsWith("k=") =>
              st.getPath.getName.stripPrefix("k=")
          }.toSet else Set.empty
        }
        def priorLive(k: String): Seq[String] =
          h.edits.getOrElse(k,
            if (baseKeys.contains(k) && !h.tombstones.contains(k)) Seq(h.gen)
            else Seq.empty)
        val changedSet = changed.toSet
        // a changed key whose every row moved away is a tombstone; a
        // written key either REPLACES its changed source directory or
        // APPENDS after an untouched existing key's files
        val fullyMoved = changedSet -- written
        val edits = (h.edits -- fullyMoved) ++ written.toSeq.sorted.map { k =>
          k -> (if (changedSet.contains(k)) Seq(genName)
                else priorLive(k) :+ genName)
        }
        val tombstones = (h.tombstones -- written) ++ fullyMoved
        Some(l.append(KeyedSource.Snapshot(l.nextSeq, h.gen, tombstones,
          edits, h.dvs -- changedSet)))
      }
    } catch {
      case t: Throwable =>
        fs.delete(gen, true)
        throw t
    }
    changed.size
  }
}
