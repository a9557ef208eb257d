package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster-
  * resolution step a dedup pipeline needs between near-dup PAIR
  * generation (x22/x23) and survivor selection: near-duplication is
  * transitive in intent (A~B, B~C ⇒ one cluster), so keeping one doc
  * per PAIR over-deletes and keeping one per CLUSTER is the actual
  * semantics.
  *
  * Two implementations with the same output contract:
  *   - [[connectedComponents]]: min-label propagation, O(diameter)
  *     rounds — the didactic baseline, fine for dense shallow clusters;
  *   - [[connectedComponentsAlternating]]: large-star/small-star
  *     (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SoCC'14), O(log n) rounds regardless of diameter —
  *     the scale path, robust to chain-shaped graphs.
  * Both loops only ever move SCALARS to the driver (fixpoint
  * signatures), never row data.
  */
object Components {

  /** Moduli for fixpoint-signature arithmetic: ids are reduced mod M
    * before any multiply/sum so no signature term can overflow a long
    * under ANSI mode, whatever the id range (64-bit hashed ids
    * included). Sums of mod-M terms stay in range up to ~9e9 edges per
    * partition-set — far past any single fixpoint check.
    *
    * TWO coprime moduli, because reductions under a single modulus are
    * perfectly correlated: a label moving a → b with a ≡ b (mod M)
    * leaves EVERY mod-M term unchanged, however the terms are mixed.
    * Stationarity under both primes requires the change to be a
    * multiple of M1·M2 ≈ 1e18 — out of range for any realistic id
    * delta, and vanishing measure even over full 64-bit hashes. */
  private val SigMod = 1000000007L
  private val SigMod2 = 998244353L

  /** localCheckpoint caches at the RDD level, which
    * `Dataset.unpersist` does NOT release (it only unregisters
    * CacheManager plans — calling it on a checkpointed frame is a
    * silent no-op). To bound an iterative loop's storage we must
    * unpersist the underlying RDDs, so: snapshot the persistent-RDD
    * ids around the checkpoint call and hand back the delta for an
    * explicit [[release]] once the round is superseded.
    *
    * CONTRACT: the delta is a global-context snapshot, so every lazily
    * persisted upstream input must be materialized BEFORE the first
    * tracked call (or its cache id lands in the delta and gets released
    * mid-loop), and no concurrent thread may be persisting on the same
    * SparkContext during the window. Both component loops force their
    * persisted inputs first and run on a single driver thread. */
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val cp = df.localCheckpoint()
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    (cp, added)
  }

  /** Precise variant for a checkpoint whose materialization may ALSO
    * trigger lazily persisted upstream caches (memoized signature
    * tables): the released set is exactly the checkpoint's own RDD —
    * read off the resulting LogicalRDD plan, not a global before/after
    * snapshot — so releasing it can never evict an upstream memo that
    * happened to register inside the same window. */
  private def checkpointPrecise(df: DataFrame): (DataFrame, Set[Int]) = {
    val cp = df.localCheckpoint()
    val ids = cp.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    (cp, ids)
  }

  /** Unique Observation names: reusing a name while a prior observation
    * with it is still registered on the session is an error, and the
    * loops run under Bench twice per query (cold + warm). */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fixpoint signature WITHOUT its own job: the aggregate rides the
    * round's checkpoint materialization as an observed metric
    * (CollectMetrics is a streaming pass-through over the rows the
    * checkpoint job writes anyway — verified to fire on
    * `localCheckpoint`'s action on this Spark build). Each round
    * previously paid a third job just to re-scan the ~2-column
    * checkpointed table for 5 scalars; at loop cadence the per-job
    * fixed cost (scheduling + task launch) was a third of the whole
    * x36 runtime. Extraction null-guards the empty-input case (sum
    * over zero rows observes NULL). */
  private def observed(df: DataFrame, metrics: Seq[(String, Column)])
      : (DataFrame, () => Map[String, Long]) = {
    val obs = Observation(s"graft_cc_sig_${obsSeq.incrementAndGet()}")
    val out = df.observe(obs, metrics.head._2.as(metrics.head._1),
      metrics.tail.map { case (n, c) => c.as(n) }: _*)
    (out, () => obs.get.map { case (k, v) =>
      k -> (if (v == null) 0L else v.asInstanceOf[Long]) })
  }

  private def release(s: SparkSession, ids: Set[Int]): Unit = {
    val persisted = s.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Right-size the loop's shuffle parallelism to the graph, not the
    * session (r3 verdict #3): every round is 2-3 shuffles plus a
    * checkpoint materialization, and at the session's default
    * parallelism a KB-scale pair graph pays tasks-per-stage × rounds of
    * pure scheduling overhead (36 s on the r3 driver box for a
    * few-hundred-edge graph). One partition per ~64k edge rows, never
    * MORE than the session default — at cluster scale with a billion
    * pairs the cap keeps the session's sizing; at bench scale the loop
    * collapses to single-task stages. Restores the session value on
    * exit; loops are single-driver-thread by the checkpointTracked
    * contract, so the temporary session-conf write cannot race another
    * query. */
  private def withLoopParallelism[T](s: SparkSession, rows: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    s.conf.set(key, Partitions.inputSized(s, rows, 65536L).toString)
    try body finally s.conf.set(key, orig)
  }

  /** @param edges undirected edge list; both columns must be integral
    *              node ids (the component label is the component's min
    *              node id)
    * @param a     left endpoint column name
    * @param b     right endpoint column name
    * @return (node, component) — one row per node that appears in any
    *         edge; component = min node id reachable from it
    */
  def connectedComponents(edges: DataFrame, a: String, b: String,
      maxIter: Int = 25): DataFrame = {
    val s = edges.sparkSession
    val sym = edges.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .unionByName(edges.select(col(b).cast("long").as("src"), col(a).cast("long").as("dst")))
      .distinct()
      .persist()
    // force the cache NOW: a DataFrame persist only registers its RDD
    // when first materialized — if that happened inside the first
    // tracked checkpoint, sym's cache id would land in the round delta
    // and round 1's release would evict it, recomputing the whole
    // upstream pair pipeline every subsequent round
    val edgeRows = sym.count()

    // localCheckpoint, not persist: each round's plan references the
    // previous labels TWICE (join + union), so lineage doubles per
    // round — without truncation the logical plan grows 2^rounds and
    // planning itself OOMs. Checkpointing materializes the ~2-column
    // label table and restarts the plan from it. (On a production
    // cluster prefer reliable checkpoints — setCheckpointDir +
    // .checkpoint() — so executor loss can't kill a long run.)
    // Two-scalar signature over COPRIME moduli, not a bare sum: labels
    // only decrease, but a single mod-M sum can stay stationary when a
    // label moves a→b with a ≡ b (mod M) — birthday-likely over 64-bit
    // hashed ids — and a false fixpoint here returns silently-wrong
    // clusters. Stationarity under both primes needs the change to be
    // a multiple of M1·M2 ≈ 1e18 (see SigMod note). Overflow-safe
    // under ANSI. The n metric doubles as the empty-input check
    // (converged immediately) — no separate isEmpty job.
    val labelMetrics: Seq[(String, Column)] = Seq(
      "n" -> count(lit(1)),
      "s1" -> coalesce(sum(pmod(col("label"), lit(SigMod))), lit(0L)),
      "s2" -> coalesce(sum(pmod(col("label"), lit(SigMod2))), lit(0L)))
    val (lab0, sig0) = observed(
      sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), labelMetrics)
    var (labels, labelIds) = checkpointTracked(lab0)
    var prevSig = sig0()

    var i = 0
    var converged = prevSig("n") == 0L
    // the result's own checkpoint (one ~2-column table) stays cached for
    // the result's lifetime — the one unavoidable residue; callers
    // needing a fully clean context can sweep sparkContext
    // .getPersistentRDDs afterwards
    val (result, _) = try withLoopParallelism(s, edgeRows) {
      while (!converged && i < maxIter) {
        val nbr = sym.as("e").join(labels.as("lb"), col("e.dst") === col("lb.node"))
          .select(col("e.src").as("node"), col("lb.label").as("label"))
        val (upd0, sigF) = observed(
          labels.unionByName(nbr)
            .groupBy("node").agg(min("label").as("label")), labelMetrics)
        val (updated, updatedIds) = checkpointTracked(upd0)
        val newSig = sigF()
        // bound storage to two label tables: release the superseded
        // round's checkpoint RDDs instead of waiting on GC +
        // ContextCleaner (up to maxIter copies otherwise)
        release(s, labelIds)
        labels = updated
        labelIds = updatedIds
        converged = newSig == prevSig
        prevSig = newSig
        i += 1
      }
      // hitting the round cap without convergence means the output would
      // contain pseudo-components (labels that are no member's id) —
      // refuse to return silently-wrong clusters
      require(converged,
        s"connected components did not converge in $maxIter rounds — " +
          "raise maxIter (rounds scale with component diameter) or use " +
          "connectedComponentsAlternating for path-shaped graphs")
      // copy the answer onto its OWN checkpoint so the final round's
      // loop RDDs can be released here rather than leaking for the
      // session lifetime (Dataset.unpersist can't reach them)
      checkpointTracked(labels.select(col("node"), col("label").as("component")))
    } finally {
      // also on the non-convergence throw: the caller's session keeps
      // running and must not inherit this loop's leaked storage
      sym.unpersist(blocking = false)
      release(s, labelIds)
    }
    result
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * SoCC'14): converges in O(log n) rounds regardless of component
    * DIAMETER, where min-label propagation needs O(diameter) — the
    * difference between 5 and 50 shuffles on a chain-shaped near-dup
    * corpus (sequentially drifted edits form exactly such chains).
    *
    * Each round is two data-parallel star operations over the canonical
    * (hi > lo) edge list:
    *   - large-star: every edge (hi, lo) re-points hi at
    *     m(lo) = min(N(lo) ∪ {lo}) — one groupBy for the per-node min,
    *     one join to apply it;
    *   - small-star: every center hi gathers its smaller neighbors and
    *     re-points them (and itself) at their minimum.
    * Both only ever REPLACE an endpoint with a smaller one; the
    * (count, endpoint-sums, mixed-hash) signature over the edge
    * multiset is the fixpoint witness (4 scalars per round, never a
    * driver-side edge compare; all terms mod-M overflow-safe).
    *
    * Output contract matches [[connectedComponents]]: one (node,
    * component) row per distinct endpoint (self-loop-only nodes
    * included), component = the member minimum.
    */
  def connectedComponentsAlternating(edges: DataFrame, a: String, b: String,
      maxIter: Int = 30): DataFrame = {
    val s = edges.sparkSession

    def canon(df: DataFrame): DataFrame = df
      .filter(col("hi") =!= col("lo"))
      .distinct()

    // ONE pass over the upstream edge pipeline (r20 — the r19 form
    // consumed `edges` twice before the loop even started: a full
    // pair-generation pass for the node list and another for the
    // round-0 edge checkpoint; at x36's cadence that was ~1 s of the
    // staging's cost and at cluster scale it is two corpus-wide
    // self-joins where one suffices). `base` is the hi/lo
    // canonicalization WITHOUT the self-loop filter, checkpointed
    // eagerly; nodes and the round-0 edges both derive from it with
    // cheap single-table jobs. checkpointPrecise, not Tracked: this
    // first action materializes any lazily persisted upstream memo
    // (signature tables), and the release below must not evict those —
    // the precise id set contains only base's own checkpoint RDD.
    val (base, baseIds) = checkpointPrecise(
      edges.select(
        greatest(col(a).cast("long"), col(b).cast("long")).as("hi"),
        least(col(a).cast("long"), col(b).cast("long")).as("lo")))

    // eager checkpoint (not persist): the node list is consumed by the
    // final join AFTER the loop, possibly long after — a lazy persist
    // would recompute its input at result materialization. Self-loop
    // rows survive in `base`, so self-loop-only nodes keep their
    // output row (the [[connectedComponents]] contract). The nodes
    // table itself (1 small column) plus the result's own checkpoint
    // are the bounded residue.
    val (nodes, _) = checkpointTracked(
      base.select(col("hi").as("node"))
        .unionByName(base.select(col("lo").as("node")))
        .distinct())

    // edge-multiset signature over both coprime moduli (see SigMod
    // note: single-modulus terms are perfectly correlated under a
    // congruent endpoint change, however they're mixed); rides each
    // round's checkpoint job as observed metrics — no per-round scan
    val edgeMetrics: Seq[(String, Column)] = Seq(
      "n" -> count(lit(1)),
      "sh" -> coalesce(sum(pmod(col("hi"), lit(SigMod))), lit(0L)),
      "sl" -> coalesce(sum(pmod(col("lo"), lit(SigMod))), lit(0L)),
      "m1" -> coalesce(sum(pmod(
        pmod(col("hi"), lit(SigMod)) * 2654435761L +
          pmod(col("lo"), lit(SigMod)) * 40503L,
        lit(SigMod))), lit(0L)),
      "m2" -> coalesce(sum(pmod(
        pmod(col("hi"), lit(SigMod2)) * 1566083941L +
          pmod(col("lo"), lit(SigMod2)) * 69069L,
        lit(SigMod2))), lit(0L)))

    val (e0, sig0) = observed(canon(base), edgeMetrics)
    var (e, eIds) = checkpointTracked(e0)
    // base is superseded once the round-0 edges are checkpointed
    release(s, baseIds)

    var prev = sig0()
    var i = 0
    var converged = prev("n") == 0L
    // the result's own checkpoint stays cached for the result's
    // lifetime — the one unavoidable residue; callers needing a fully
    // clean context can sweep sparkContext.getPersistentRDDs afterwards
    val (result, _) = try withLoopParallelism(s, prev("n")) {
      while (!converged && i < maxIter) {
        // large-star: m over ALL neighbors of each node (both roles)
        val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
          .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
        val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        // checkpoint (not cache) the intra-round intermediate: `small`
        // below references `large` twice (join left + mins2 grouping);
        // a .persist() here measured 2-3× SLOWER end-to-end than the
        // extra checkpoint job (columnar cache encode/decode per round
        // dominates at loop cadence), so each star keeps its own
        // truncation point
        val (large, largeIds) = checkpointTracked(canon(e
          .join(mins.withColumnRenamed("u", "lo"), "lo")
          .select(col("hi"), col("m").as("lo"))))
        release(s, eIds)

        // small-star: per center hi, re-point the smaller neighbors and
        // the center itself at their minimum
        val mins2 = large.groupBy("hi").agg(min("lo").as("m"))
        val (small0, sigF) = observed(canon(large
          .join(mins2, "hi")
          .select(col("lo").as("hi"), col("m").as("lo"))
          .unionByName(mins2.select(col("hi"), col("m").as("lo")))), edgeMetrics)
        val (small, smallIds) = checkpointTracked(small0)
        release(s, largeIds)

        val cur = sigF()
        e = small
        eIds = smallIds
        converged = cur == prev
        prev = cur
        i += 1
      }
      require(converged,
        s"alternating components did not converge in $maxIter rounds")
      // fixpoint = star forest: every edge is (member, root). Copy the
      // answer onto its OWN checkpoint so the final round's edge table
      // can be released rather than leaking for the session lifetime
      // (Dataset.unpersist can't reach it)
      checkpointTracked(
        nodes.join(e.withColumnRenamed("hi", "node"), Seq("node"), "left")
          .select(col("node"), coalesce(col("lo"), col("node")).as("component")))
    } finally {
      // also on the non-convergence throw: Bench's NonFatal catch keeps
      // the session alive for the remaining queries, which must not run
      // against this loop's leaked round storage
      release(s, eIds)
    }
    result
  }
}
