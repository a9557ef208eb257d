package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

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
    val log = KeyedSource.requireLog(path,
      spark.sessionState.newHadoopConf(), "compaction")
    val view = KeyedSource.SnapshotView.of(path, log, log.head)
    // eligible: multi-file keys (appends/MERGE inserts) AND any key
    // carrying deletion vectors (merge-on-read deletes) — compaction is
    // what folds DVs into clean files, dropping the per-row bitset
    // probe, and restores metadata answers for those keys
    val frag: Seq[String] = (view.edits.collect {
      case (k, gens) if gens.length >= minInputFiles => k
    } ++ view.dvs.keys).toSeq.distinct.sorted
    if (frag.isEmpty) return 0
    // read ONLY the fragmented keys of the head that read names
    val rows = KeyedSource.readView(spark, view, schema, key, Some(frag))
    rewrite(spark, view, schema, key, rows, "compaction", "compact") {
        (prior, seq, written, gen) =>
      require(written.subsetOf(frag.toSet),
        s"compaction must rewrite only the fragmented keys " +
          s"(${frag.mkString(",")}), wrote ${written.toSeq.sorted.mkString(",")}")
      // every compacted key is served by the new generation alone and
      // folds its deletion vectors in (the rewrite read the DV-applied
      // view). An eligible key with ZERO live rows (every row removed
      // by deletion vectors) writes no file and no sidecar entry — that
      // is a FULL DELETE, not a failure: it tombstones, the same
      // outcome a key-grain DELETE would record
      prior.replaced(seq, frag.toSet, written, gen, branch = None)
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
    val log = KeyedSource.requireLog(path,
      spark.sessionState.newHadoopConf(), "re-bucketing")
    // both scans read the head that one log read names
    val view = KeyedSource.SnapshotView.of(path, log, log.head)
    val evolved = newKey.cast(schema(key).dataType)
    // ONE detection pass (r18 review: the NULL guard and the moved-key
    // scan each read the table; fold them into a single projection-
    // pruned aggregation): count NULL assignments — a partial CASE
    // would silently keep its rows' old buckets, and the framed layout
    // cannot store a NULL key anyway — and collect the distinct moved
    // source keys (bounded: the key-domain class).
    import org.apache.spark.sql.functions.{collect_set, sum, when, lit}
    val det = KeyedSource.readView(spark, view, schema, key)
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
    // rewrite the changed keys' rows under their NEW assignment
    val rekeyed = KeyedSource.readView(spark, view, schema, key, Some(changed))
      .withColumn(key, evolved)
    rewrite(spark, view, schema, key, rekeyed, "re-bucketing", "rebucket") {
        (prior, seq, written, gen) =>
      // a changed key whose every row moved away is a tombstone; a
      // written key either REPLACES its changed source directory or
      // APPENDS after an untouched existing key's files
      prior.replaced(seq, changed.toSet, written, gen, branch = None)
    }
    changed.size
  }

  /** The rewrite both maintenance commits share: write `rows` into a
    * new generation `_gen-<tag>-<id>` with the standing write
    * distribution (each key wholly in one task, key-first sorted by the
    * layout's recorded order, the layout's codec), audit it
    * ([[KeyedWriteAudit]] — the same audited writer and stats the
    * connector's write paths use), then publish `snapshot`'s candidate
    * through [[KeyedSource.commitLoop]]. `snapshot` gets the fresh
    * head's [[KeyedSource.PriorFiles]], the next seq, the written keys
    * and the generation name. SERIALIZABLE like row-level DML: the rows
    * were read from the head `view` binds, so any commit since fails
    * the rewrite loudly rather than rebase (an append to a rewritten
    * key would otherwise be silently dropped). Nothing is published
    * unless the claim wins (commitLoop throws only then), so any
    * failure deletes this rewrite's own staging and rethrows; the live
    * layout is untouched. */
  private def rewrite(spark: SparkSession, view: KeyedSource.SnapshotView,
      schema: StructType, key: String,
      rows: org.apache.spark.sql.DataFrame, what: String, tag: String)(
      snapshot: (KeyedSource.PriorFiles, Long, Set[String], String) =>
        KeyedSource.Snapshot): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val path = view.layoutPath
    val scanSeq = view.seq
    // the layout's recorded order (base generation's marker): rewritten
    // files are written back SORTED so the single-dir claim resurrects
    val sortBy: Seq[String] = KeyedSource.readOrderMarker(view.root, conf,
      schema, key, view.lineage).getOrElse(Seq.empty)
    val genName = s"_gen-$tag-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val genDir = s"$path/$genName"
    // the rewrite inherits the codec of the files it reads
    val codec = KeyedSource.codecOf(view, hconf)
    val root = new org.apache.hadoop.fs.Path(path)
    val gen = new org.apache.hadoop.fs.Path(root, genName)
    val fs = root.getFileSystem(hconf)
    try {
      // explicit fan-out (r19 ADVICE): a bare repartition(col) is
      // coalescible to ONE task under advisory-sized AQE coalescing
      // (parallelismFirst=false), serializing per-key file creation —
      // the same pin KeyedWrite.requiredNumPartitions carries
      val msgs: Array[KeyedCommitMessage] = rows
        .repartition(spark.sessionState.conf.numShufflePartitions, col(key))
        .sortWithinPartitions((key +: sortBy).map(col): _*)
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
        }.collect() // bounded: one COMMIT MESSAGE per non-empty task (≤
                    // shuffle partitions), each holding per-key stats —
                    // the same driver payload every DSv2 BatchWrite.commit
                    // receives, never rows
      val written = KeyedWriteAudit.auditAndWrite(schema, key, sortBy,
        msgs.toSeq, fs, gen, what).map(_.rawKey).toSet
      KeyedSource.commitLoop(path, hconf, s"$what commit") { prior =>
        val l = KeyedSource.requireLog(path, prior, s"$what commit")
        val h = l.head
        if (h.seq != scanSeq) throw new IllegalStateException(
          s"graft-keyed $what at $path conflicts with a concurrent " +
            s"commit: rows were read from snapshot $scanSeq but the head is " +
            s"now ${h.seq}; re-run the $what against the fresh table")
        Some(l.append(snapshot(new KeyedSource.PriorFiles(path, hconf, h),
          l.nextSeq, written, genName)))
      }
    } catch {
      case t: Throwable =>
        fs.delete(gen, true)
        throw t
    }
  }
}
