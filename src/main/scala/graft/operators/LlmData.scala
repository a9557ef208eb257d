package graft.operators

import graft.Q
import graft.functions.Rounding.{duckRound, pround}
import graft.functions.{Text, Vectors}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY.md §2.11, driver north-star):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (language-ID
  * heuristic, quality scoring, token counting, fingerprinting), and
  * multimodal column bundling — all over `documents` / `embeddings`.
  *
  * 100 TB discipline:
  *   - every signature/fingerprint is computed map-side in the scan
  *     stage with codegen'd builtin + higher-order functions (no UDFs,
  *     no explode of the feature space before hashing);
  *   - candidate generation is ALWAYS a key-equality join on a
  *     signature (LSH band, SimHash chunk, sign-bucket) — never an
  *     all-pairs crossJoin; the quadratic step happens only inside a
  *     bucket, whose size LSH bounds;
  *   - the only broadcast is the (single-row) query vector;
  *   - oracle-checked variants use md5-based hashing (engine-portable,
  *     DuckDB-identical); the xxhash64 fast path has the same plan
  *     shape and is covered by unit tests instead.
  */
object LlmData {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ── shared DuckDB oracle fragments ──────────────────────────────────

  /** DuckDB CTEs: documents → whitespace tokens → distinct 3-shingles
    * (mirrors Text.tokens + Text.shingles; docs with < 3 tokens drop). */
  private val duckShingles =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |shs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM toks WHERE len(w) >= 3)""".stripMargin

  /** Positional-bigram counts over a token-staged corpus (`tk` column
    * required) — ONE pipeline shared by x50 (vocabulary induction,
    * top-50) and x61 (merge pick, top-1), so the pair encoding
    * ("a b" concat) and the count it ranks by can never drift between
    * the candidate list and the applied merge. */
  private def bigramCounts(docs: DataFrame): DataFrame =
    docs
      .filter(size(col("tk")) >= 2)
      // native sliding-gram kernel (r20 — Text.gramsNative, the r19
      // x49 lesson applied to the bigram leftovers): same "a b" pair
      // strings as the transform/sequence/element_at HOF chain
      // (ScrubKernelSpec pins equality) without its interpreted
      // per-position lambda dispatch
      .select(explode(Text.gramsNative(col("tk"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))

  /** DuckDB twin of [[bigramCounts]] (doc_id carried for consumers that
    * join back to documents). */
  private val duckBigrams =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT unnest(list_transform(range(1, len(w)),
      |        i -> w[i] || ' ' || w[i + 1])) AS pair
      |      FROM toks WHERE len(w) >= 2)""".stripMargin

  /** DuckDB CTE chain shingles → SimHash-60 fingerprints → chunk-blocked
    * candidate pairs (`cand(doc_a, doc_b, fa, fb)`) — ONE definition
    * shared by x23 (pair report) and x36 (cluster resolution) so the two
    * oracles can never check different pair graphs. */
  private val duckSimhashCand =
    s"""$duckShingles,
       |feat AS (SELECT doc_id, unnest(sh) AS s FROM shs WHERE len(sh) > 0),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM feat),
       |votes AS (SELECT doc_id, j,
       |            sum(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) GROUP BY doc_id, j),
       |fp AS (SELECT doc_id, CAST(sum(
       |          CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END)
       |        AS BIGINT) AS fp
       |       FROM votes GROUP BY doc_id),
       |chunks AS (SELECT doc_id, fp, p AS pos,
       |             (fp >> (CAST(p AS INTEGER) * 10)) & 1023 AS chunk
       |           FROM fp CROSS JOIN (SELECT unnest(range(0, 6)) AS p)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           a.fp AS fa, b.fp AS fb
       |         FROM chunks a JOIN chunks b
       |           ON a.pos = b.pos AND a.chunk = b.chunk AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB double-fold dot product — identical accumulation order to
    * Vectors.dot (sequential left fold, double math). */
  private[operators] def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private[operators] def duckCosine(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  /** Spark-side rounded cosine between two array<float> columns —
    * written DECLARATIVELY (widen + HOF folds); on the project session
    * FuseDotProductRule rewrites each dot to the native fused kernel,
    * bit-equal to this formulation and to the oracle's fold (see
    * FusedDotSpec / FuseDotRuleSpec), portably rounded. */
  private[operators] def cosine6(a: Column, b: Column): Column =
    pround(Vectors.cosineDecl(a, b), 6)

  /** Achlioptas ±1 sign rows for the x80 16×64 random projection: row
    * j, bit i = low bit of the portable 60-bit md5("j:i") prefix — the
    * repo's standard deterministic draw, reproducible from any
    * engine's md5. ONE definition feeds both the Spark literal and the
    * DuckDB twin's interpolated matrix, so the two can never drift.
    * ±1 entries satisfy the JL distortion bound like Gaussian rows
    * (Achlioptas 2003, "Database-friendly random projections"). */
  private[operators] val rpSignRows: IndexedSeq[String] =
    (0 until 16).map { j =>
      (1 to 64).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
        if ((java.lang.Long.parseLong(hex.take(15), 16) & 1L) == 1L) '1' else '0'
      }.mkString
    }

  /** 16-dim ±1 projection of a 64-dim float embedding — map-side and
    * shuffle-free; each coordinate is one fused-dot against a ±1
    * literal row (the literal pins the kernel directly: the
    * declarative form's cast-transform would be constant-folded before
    * FuseDotProductRule could match it). (double)(±1.0f) widening and
    * the products are exact, so each coordinate is bit-equal to the
    * oracle's sequential fold. */
  private def rpProject(e: Column): Column =
    array(rpSignRows.map { row =>
      Vectors.dotFused(e, array(row.map(c =>
        lit(if (c == '1') 1.0f else -1.0f)): _*))
    }: _*)

  /** DuckDB twin of [[rpProject]] over the embeddings table: CTE
    * `rp(vec_id, embedding, rp)` with the same interpolated sign
    * matrix (embedding carried for x81's full-space re-rank). */
  private def duckRpChain: String = {
    val smat = rpSignRows.map(r => s"'$r'").mkString("[", ", ", "]")
    s"""rp AS (SELECT vec_id, embedding, list_transform(range(1, 17), j ->
       |    list_reduce(list_transform(range(1, 65), i ->
       |      CAST(embedding[i] AS DOUBLE) *
       |      CASE WHEN substr(m.smat[j], CAST(i AS INTEGER), 1) = '1'
       |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END),
       |    (x, y) -> x + y)) AS rp
       |  FROM embeddings CROSS JOIN (SELECT $smat AS smat) m)""".stripMargin
  }

  // ── shared ANN pipelines (x24 / x25 / x34 / x35) ────────────────────
  // ONE definition per retrieval method, used both by the method's own
  // query and by the recall audit (x35) — so the recall numbers can
  // never drift from what the registered queries actually return.

  /** Exact brute-force top-k: broadcast single-row query vector,
    * map-side fused cosine, TakeOrderedAndProject. */
  private[operators] def annExactTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Sign-LSH bucketed top-k: equality join on the 6-bit sign bucket
    * key; only the query's bucket is scored. */
  private def annLshTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("bk", Vectors.signKey(col("embedding"), 6))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("bk").as("qbk"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bk") === col("qbk"))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Canonical (key, va, vb, cos) embedding-pair table: keyed
    * self-join — the pair generator is never all-pairs — with va < vb
    * canonical order and the fused cosine. Single-sources the pair
    * idiom shared by x32 (sign-LSH buckets) and x48 (trained
    * clusters): the tie-break and pair predicate live here once. */
  private[operators] def cosinePairs(e: DataFrame, key: String): DataFrame = {
    val a = e.select(col(key), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col(key), col("vec_id").as("vb"), col("embedding").as("eb"))
    a.join(b, Seq(key)).filter(col("va") < col("vb"))
      .withColumn("cos", cosine6(col("ea"), col("eb")))
      .select(col(key), col("va"), col("vb"), col("cos"))
  }

  /** The 1 + bits probe keys within hamming distance 1 of a sign
    * bucket key (j = 0 keeps the original; j >= 1 flips bit j). */
  private def flipKeys(bk: Column, bits: Int): Column =
    transform(sequence(lit(0), lit(bits)), j =>
      when(j === lit(0), bk).otherwise(concat(
        bk.substr(lit(1), j - 1),
        when(bk.substr(j, lit(1)) === "1", lit("0")).otherwise(lit("1")),
        bk.substr(j + 1, lit(bits)))))

  /** Multi-probe sign-LSH top-k: the query probes its own bucket plus
    * every bucket one sign-flip away (7 probes at 6 bits) — the
    * standard recall lever for LSH retrieval (Lv et al. VLDB'07):
    * candidates grow ~7×, the join stays bucket-key EQUALITY (the
    * probe set explodes on the single-row query side, broadcast), and
    * the corpus side still never shuffles. Recall vs the single-probe
    * x25 is measured by x35. */
  private def annLshMultiProbeTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("bk", Vectors.signKey(col("embedding"), 6))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), explode(flipKeys(col("bk"), 6)).as("pbk"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bk") === col("pbk"))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** IVF top-k with a TRAINED coarse quantizer: K=16 centroids seeded
    * from the first K embeddings, refined by two Lloyd's iterations
    * (map-side argmax assignment over the centroid literal; per-dim
    * micro-unit integer sums collected at K×dim rows), then an
    * nprobe=2 probe of the query's two best lists. See the x34 entry
    * comment for the full scale argument. */
  /** Document-frequency ceiling for x49's cross-doc gram signal: a
    * 10-gram in more than this many distinct documents is treated as
    * template boilerplate and excluded from the duplicated-span set
    * (see the x49 entry comment for the full Zipf scale argument).
    * 128 is far above any organic copied-span df (testdata max: 4;
    * genuine cross-doc copying produces df in the single digits) and
    * far below the corpus-proportional df of boilerplate headers. */
  private[operators] val HotGramDfCap = 128L

  /** The K ∝ N rule for quantizer width: `K = max(16, N / 125)`.
    *
    * SemDeDup's per-cluster pairwise stage costs ~(N/K)² pairs per
    * cluster × K clusters = N²/K total — quadratic in the corpus at
    * any FIXED K (measured: 18.3× at 10× data, BASELINE.md r8). Tying
    * K to N makes expected cluster size a CONSTANT (~125 members), so
    * total pair cost is N × 125 — linear. ScaleDialSpec measures the
    * collapse (sf1: K=16 31.1 s → K=160 2.55 s at local[4]); this def
    * is that dial wired into the registered queries. The floor of 16
    * keeps every spec-SF corpus (N ≤ 2000) on the historical K=16
    * quantizer, so all existing oracle hashes are unchanged there.
    * The count is one metadata-cheap job, memoized per (session, dir).
    * Oracle twin: `greatest(16, count(*) // 125)` (see
    * [[duckIvfChainKN]]). */
  private[operators] def corpusK(s: SparkSession, dir: String): Int =
    SessionMemo.value(s, "corpus-k", dir)(
      math.max(16L, t(s, dir, "embeddings").count() / 125L).toInt)

  private[operators] def trainedCentroids(
      s: SparkSession, dir: String, K: Int = 16): Seq[(Long, IndexedSeq[Float])] =
    // memoized per (session, dir, K, corpus generation): x34, x35, and
    // x48 all train the same quantizer — one set of Lloyd's collect
    // jobs per session serves all of them, and the generation stamp
    // re-trains after an in-session regeneration (the oracle replays
    // training from the live file — a stale quantizer would be an
    // answer change)
    SessionMemo.value(s, s"cents-$K", dir)(trainCentroids(s, dir, K))

  private def trainCentroids(
      s: SparkSession, dir: String, K: Int): Seq[(Long, IndexedSeq[Float])] =
    trainCentroidsOn(t(s, dir, "embeddings"), K)

  /** The Lloyd's loop itself, over an arbitrary training frame — the
    * x74 incremental-maintenance path trains on the HISTORICAL slice
    * only (new batches are assigned against these frozen centroids,
    * never retrained per append). */
  private def trainCentroidsOn(
      e: DataFrame, K: Int): Seq[(Long, IndexedSeq[Float])] = {
    var cents: Seq[(Long, IndexedSeq[Float])] =
      e.filter(col("vec_id").between(1, K))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq)
        .sortBy(_._1).toSeq
    for (_ <- 1 to 2) {
      val sums = e
        .withColumn("cid", array_max(ivfScored(cents)(col("embedding"))).getField("cid"))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(floor(col("v").cast("double") * 1000000.0 + 0.5)).as("sm"),
          count(lit(1)).as("n"))
        .collect()
      val byCid = sums.groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        cid -> byCid.get(cid).fold(old)(rows =>
          rows.sortBy(_.getInt(1)).map(r =>
            ((r.getLong(2).toDouble / r.getLong(3)) / 1000000.0).toFloat)
            .toIndexedSeq)
      }
    }
    cents
  }

  /** (ccos, cid) structs per centroid; array_max = lexicographic
    * argmax: highest cosine, ties to the largest cid — mirrored in
    * the oracle's ORDER BY ccos DESC, cid DESC. */
  private[operators] def ivfScored(cents: Seq[(Long, IndexedSeq[Float])])(v: Column): Column =
    transform(
      array(cents.map { case (cid, ce) =>
        struct(lit(cid).as("cid"), typedlit(ce).as("ce"))
      }: _*),
      c => struct(cosine6(v, c.getField("ce")).as("ccos"),
        c.getField("cid").as("cid")))

  /** Literal-path ceiling. Below this width the quantizer rides the
    * collected-literal forms ([[trainedCentroids]] + [[ivfScored]]):
    * the Lloyd's collect is K×dim index-metadata rows and the argmax
    * is one codegen'd expression — the right plan when K is small.
    * Above it both erode — the collect grows with K (and [[corpusK]]
    * ties K to the corpus, so at 100 TB it WOULD grow without bound)
    * and the K-literal expression tree outgrows codegen — so the
    * [[assignedByTrainedQuantizer]] dispatcher switches to the
    * DataFrame path: centroids never leave the cluster, assignment is
    * a broadcast join, updates are aggregations. 256 × 64 floats is
    * comfortably inside both driver and codegen budgets; the two
    * paths are bit-equal (DistributedTrainSpec), so the cut is a
    * plan choice, not a semantics choice. */
  private[operators] val LiteralKMax = 256

  /** Distributed Lloyd's: the same seeds, same two rounds, same
    * micro-unit integer means as [[trainCentroidsOn]] — but centroids
    * live in a (cid, ce) DataFrame end to end. Assignment scores the
    * corpus against the BROADCAST centroid frame (executor-side, no
    * literal), and the update is groupBy(cid, pos) integer sums
    * re-assembled into arrays by a pos-sorted collect_list — no
    * driver collect anywhere, so K can track the corpus (corpusK)
    * without the K×dim driver bound. Micro-unit sums are exact
    * integers and the mean replays the identical double-divide /
    * float-cast sequence, so the result is bit-equal to the literal
    * path (pinned by DistributedTrainSpec at K=16). */
  private[operators] def trainCentroidsDf(e: DataFrame, K: Int): DataFrame = {
    def step(cents: DataFrame): DataFrame = {
      val means = assignDf(e, cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(floor(col("v").cast("double") * 1000000.0 + 0.5)).as("sm"),
          count(lit(1)).as("n"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sm"), col("n")))),
          r => ((r.getField("sm").cast("double") / r.getField("n")) / lit(1000000.0))
            .cast("float")).as("nce"))
      // a cluster that captured no rows keeps its centroid — the
      // literal path's byCid.get(cid).fold(old) contract
      cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nce"), col("ce")).as("ce"))
    }
    var cents = e.filter(col("vec_id").between(1, K))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    var prev: DataFrame = null
    for (_ <- 1 to 2) {
      val next = step(cents).persist()
      next.count() // materialize the round before releasing its input
      if (prev != null) prev.unpersist(blocking = false)
      prev = next
      cents = next
    }
    cents
  }

  /** Assignment of every row of `e` to its best centroid in the
    * (cid, ce) frame: the centroids are packed into ONE array-of-
    * structs row (a K×dim data value, not a K-literal expression —
    * this is what lets K outgrow [[LiteralKMax]]), broadcast, and the
    * argmax runs WITHIN each row as array_max(transform(...)) — the
    * exact [[ivfScored]] ordering (highest cosine, ties to the largest
    * cid), so the two paths share semantics by construction. Keeps all
    * of `e`'s columns plus `cid`, the same shape the literal
    * assignment produces.
    *
    * Why per-row and not pair-rows: the earlier crossJoin + groupBy
    * (vec_id) + max(struct) form materialized N×K pair ROWS each
    * carrying both float arrays, and a struct-typed max buffer cannot
    * use HashAggregate, so Spark fell back to SortAggregate — at sf3
    * (60k×480) that sorted ~16 GB of pair rows per training pass,
    * 178 s/pass measured vs ~2 s for this form. Per-row argmax does
    * the identical N×K fused-dot work with zero shuffle, zero sort,
    * and no join-back; the one broadcast value is K×dim floats, the
    * same payload the old broadcast side carried.
    *
    * The argmax itself is the native `graft_best_cid` kernel
    * ([[graft.plans.BestCentroidCid]]) rather than the declarative
    * array_max(transform(...)): the HOF lambda is interpreted, and at
    * N×K lambda evaluations per training pass that measured ~35 s at
    * sf3 (60k×480) where the kernel's compiled loop is sub-second.
    * Centroid norms are hoisted INTO the broadcast payload (cn =
    * sqrt(dot(ce,ce)) computed once per centroid at packing time) and
    * the vector's own norm once per row inside the kernel — the same
    * double values the per-pair formulation produced, so the result
    * is bit-equal (DistributedTrainSpec literal-parity + the
    * BestCentroidSpec element-wise null contract). */
  private[operators] def assignDf(e: DataFrame, cents: DataFrame): DataFrame = {
    // agg(collect_list) ALWAYS yields one row — for an empty centroid
    // frame that row carries an empty array, graft_best_cid maps it to
    // NULL, and every corpus row would come back cid=NULL where the
    // old crossJoin+inner-join form returned an EMPTY frame. No caller
    // reaches K=0 today (corpusK floors at 1, trainCentroidsDf seeds
    // from vec_id 1..K), so the guard rides IN the plan (raise_error
    // on the packed row, zero extra jobs — an eager .isEmpty here
    // would re-execute the training lineage once per Lloyd's step)
    // and fails loudly instead of silently shifting shape.
    val packed = cents
      .select(col("cid"), col("ce"),
        sqrt(Vectors.dotDecl(col("ce"), col("ce"))).as("cn"))
      .agg(collect_list(struct(col("cid"), col("ce"), col("cn"))).as("carr"))
      .select(when(size(col("carr")) === 0, raise_error(lit(
          "assignDf: empty centroid frame (K=0) has no assignment semantics")))
        .otherwise(col("carr")).as("carr"))
    e.crossJoin(broadcast(packed))
      .withColumn("cid", call_function("graft_best_cid", col("embedding"), col("carr")))
      .drop("carr")
  }

  /** The corpus assignment table (all of `embeddings`' columns + cid)
    * for a quantizer of width K, literal path below `literalMax`,
    * DataFrame path above — the single entry point queries deriving K
    * from the corpus ([[corpusK]]) should use, so growing K switches
    * plans instead of breaking them. `literalMax` is a parameter only
    * so the spec can force the distributed path at small K for the
    * bit-parity check. */
  private[operators] def assignedByTrainedQuantizer(
      s: SparkSession, dir: String, K: Int,
      literalMax: Int = LiteralKMax): DataFrame = {
    val e = t(s, dir, "embeddings")
    if (K <= literalMax)
      e.withColumn("cid",
        array_max(ivfScored(trainedCentroids(s, dir, K))(col("embedding")))
          .getField("cid"))
    else
      // memoized like the literal path's trainedCentroids: one
      // two-round Lloyd's per (session, corpus, K), and the persisted
      // centroid frame has a release path (clearMemo) instead of
      // pinning a new copy per call
      assignDf(e, SessionMemo.frame(s, s"ivf-centsdf-$K", dir)(trainCentroidsDf(e, K)))
  }

  /** IVF probe: trained quantizer, map-side assignment, nprobe=2. */
  /** `nprobe` is IVF's recall/cost dial (registered queries and the
    * oracle chain stay at 2; NprobeDialSpec measures the 2→4→8 curve
    * at the bench SF — more probed lists ⇒ linearly more candidates
    * scanned, monotonically higher recall). */
  private[operators] def annIvfTopK(
      s: SparkSession, dir: String, k: Int, nprobe: Int = 2): DataFrame = {
    val e = t(s, dir, "embeddings")
    val scored = ivfScored(trainedCentroids(s, dir)) _
    val assigned = e.withColumn("cid",
      array_max(scored(col("embedding"))).getField("cid"))
    // the query's nprobe best lists, exploded to (qe, qcid) probe rows
    // so the data side joins by key EQUALITY (broadcast hash join),
    // never a nested-loop OR-condition
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        explode(slice(reverse(array_sort(scored(col("embedding")))), 1, nprobe)).as("p"))
      .select(col("qe"), col("p.cid").as("qcid"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("cid") === col("qcid"))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Shared naming so audits exercise the shipped derivation instead
    * of re-copying the formula (the Skew.saltColumn rule). */
  private[graft] def ivfIndexTableName(dir: String): String =
    "graft_ivf_asg_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Index-build/query split for IVF (the "index once, query many"
    * form a static 100 TB corpus wants): the trained assignment
    * (vec_id, embedding, cid) is persisted ONCE per (session, corpus)
    * as a catalog table bucketed by cid. Two separable properties,
    * audited separately (PlanAuditSpec):
    *   - the PROBE plans zero ShuffleExchange because it is a
    *     broadcast probe-row join + distributed heap — true over any
    *     layout; what the split buys the probe is reading a
    *     precomputed assignment instead of re-scoring the corpus;
    *   - the cid-BUCKETED layout serves the index's cid-keyed
    *     CONSUMERS — per-list maintenance stats, re-clustering,
    *     list-wise compaction — which group/join on cid with zero
    *     Exchange because the scan itself reports
    *     hashpartitioning(cid). */
  private def ivfIndexTable(s: SparkSession, dir: String): String =
    SessionMemo.value(s, "ivf-asg", dir)({
        val tbl = ivfIndexTableName(dir)
        val scored = ivfScored(trainedCentroids(s, dir)) _
        val asg = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .withColumn("cid", array_max(scored(col("embedding"))).getField("cid"))
        graft.io.Bucketing.writeBucketed(asg, tbl, "cid", 16, sorted = false)
        tbl
      })

  /** Probe-only IVF top-k over the materialized bucketed index. Same
    * semantics (and oracle) as [[annIvfTopK]]; the difference is WHERE
    * the assignment lives — in the table layout, not the query. */
  private def annIvfIndexedTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val tbl = ivfIndexTable(s, dir)
    val scored = ivfScored(trainedCentroids(s, dir)) _
    val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        explode(slice(reverse(array_sort(scored(col("embedding")))), 1, 2)).as("p"))
      .select(col("qe"), col("p.cid").as("qcid"))
    graft.io.Bucketing.table(s, tbl)
      .join(broadcast(q), col("cid") === col("qcid"))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  // ── Incremental IVF index maintenance (x74) ───────────────────────
  /** The historical/new split for the append scenario: vec_id % 10 == 7
    * models the newly-arrived batch (~10% of the corpus); everything
    * else is the historical corpus the quantizer was trained on. The
    * query vector (vec_id 0) stays historical on both sides. */
  private[operators] def histVec: Column = pmod(col("vec_id"), lit(10)) =!= 7
  private[operators] def newVec: Column = pmod(col("vec_id"), lit(10)) === 7

  /** Centroids trained on the HISTORICAL slice only, then FROZEN —
    * what incremental maintenance assigns new batches against (retrain
    * is a deliberate, audited event — x74 measures the recall drift
    * that decides it — never an implicit side effect of an append).
    * Memoized beside the full-corpus quantizer. */
  private[graft] def trainedCentroidsHist(
      s: SparkSession, dir: String, K: Int = 16): Seq[(Long, IndexedSeq[Float])] =
    SessionMemo.value(s, s"cents-hist-$K", dir)(
      trainCentroidsOn(t(s, dir, "embeddings").filter(histVec), K))

  private[graft] def incIvfIndexTableName(dir: String): String =
    "graft_ivf_inc_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The NEW batch assigned against the frozen historical centroids —
    * map-side only (the centroids ride along as a literal), exactly one
    * scan of the new rows and no read of the base index. Exposed so
    * PlanAuditSpec can pin that shape: an append that re-derives the
    * base assignment would silently turn daily maintenance into a full
    * rebuild at 100 TB. */
  private[graft] def ivfAppendBatch(s: SparkSession, dir: String): DataFrame =
    ivfFrozenAssign(s, dir)(t(s, dir, "embeddings").filter(newVec))

  /** Map-side assignment closure against the frozen historical
    * quantizer — the `assign` a caller hands to
    * [[graft.streaming.EventStream.ivfStreamingAppend]]. Training
    * happens ONCE here (memoized); the returned function only scores,
    * so every micro-batch pays one scan of its own rows and nothing
    * else — the same single-scan shape PlanAuditSpec pins for the
    * batch append. */
  private[graft] def ivfFrozenAssign(s: SparkSession, dir: String): DataFrame => DataFrame = {
    val cents = trainedCentroidsHist(s, dir)
    df => df.withColumn("cid",
      array_max(ivfScored(cents)(col("embedding"))).getField("cid"))
  }

  /** The historical-slice base index build — THE single definition of
    * the base shape (hist filter, no query vector, cid-bucketed ×16):
    * [[incIvfIndexTable]]'s first phase and the streaming spec's
    * identical-base comparison both call it, so the two can never
    * drift. */
  private[graft] def ivfWriteBaseIndex(s: SparkSession, dir: String, tbl: String): Unit =
    graft.io.Bucketing.writeBucketed(
      ivfFrozenAssign(s, dir)(
        t(s, dir, "embeddings").filter(histVec && col("vec_id") =!= 0)),
      tbl, "cid", 16, sorted = false)

  /** Build-then-append lifecycle, once per (session, corpus): the base
    * index is bucketed from the historical corpus, then the new batch
    * is APPENDED under the same bucket spec — new per-bucket files next
    * to the untouched base files, so the probe's zero-Exchange plan
    * survives the append (PlanAuditSpec). */
  private def incIvfIndexTable(s: SparkSession, dir: String): String =
    SessionMemo.value(s, "ivf-inc", dir) {
      val tbl = incIvfIndexTableName(dir)
      ivfWriteBaseIndex(s, dir, tbl)
      graft.io.Bucketing.appendBucketed(
        ivfAppendBatch(s, dir), tbl, "cid", 16, sorted = false)
      tbl
    }

  /** The exact top-5 id set every recall audit joins against —
    * memoized+persisted (r20): x35 references it once per method arm
    * (5×), x74 twice, and the ADC rerank audit twice more, and without
    * the cache every reference re-ran the full brute-force cosine scan
    * + top-k (9 recomputes of the one leg all arms share). 5 rows;
    * released by clearMemo with the other staged artifacts. */
  private[operators] def exactTop5Ids(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "ann-exact5", dir) {
      annExactTopK(s, dir, 5).select(col("vec_id")).persist()
    }

  /** One recall@k row for `approx` against the exact top-k id set —
    * x35's harness, shared with x74's drift measurement so the two can
    * never diverge. */
  private[operators] def recallRow(exact: DataFrame, approx: DataFrame,
      method: String, k: Int): DataFrame =
    approx.select(col("vec_id")).join(exact, "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(method).as("method"), lit(k).as("k"), col("hits"),
        pround(col("hits").cast("double") / k.toDouble, 6).as("recall"))

  /** Probe over the incrementally-maintained index: same zero-Exchange
    * broadcast+heap shape as [[annIvfIndexedTopK]], reading base AND
    * appended rows through one bucketed scan. nprobe=2 against the
    * frozen quantizer. */
  private[graft] def annIvfIncTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val tbl = incIvfIndexTable(s, dir)
    val scored = ivfScored(trainedCentroidsHist(s, dir)) _
    val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        explode(slice(reverse(array_sort(scored(col("embedding")))), 1, 2)).as("p"))
      .select(col("qe"), col("p.cid").as("qcid"))
    graft.io.Bucketing.table(s, tbl)
      .join(broadcast(q), col("cid") === col("qcid"))
      .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** DuckDB twin of [[annExactTopK]] as a flat SELECT (CTE-embeddable). */
  private[operators] def duckExactTopK(k: Int): String =
    s"""SELECT e.vec_id, ${duckRound(duckCosine("e.embedding", "q.qe"), 6)} AS cos
       |FROM embeddings e CROSS JOIN
       |  (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       |WHERE e.vec_id <> 0 ORDER BY cos DESC, e.vec_id LIMIT $k""".stripMargin

  /** Fixed query-term set for the lexical retrieval family (x104/
    * x105): mid-frequency corpus vocabulary, chosen once. A serving
    * query is EXTERNAL DEMAND and must not scale with the corpus —
    * the x103 lesson applies to terms exactly as to query vectors. */
  private val bm25Terms =
    Seq("spark", "join", "window", "stream", "vector", "customer")

  /** BM25 top-k core shared by x104 and x105's lexical arm.
    *
    * Exact-integer BM25: for k1 = 1.2, b = 0.75 the per-term score
    *   idf · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
    * multiplied through by 10·Σdl (avgdl = Σdl/N) becomes
    *   idf · 22·Σdl·tf / (10·Σdl·tf + 3·Σdl + 9·N·dl)
    * — all integers — and the rational IDF (N−df+1)/(df+1) replaces
    * ln((N−df+0.5)/(df+0.5)) (same monotonicity, no libm). Floor
    * division in micro-units on DECIMAL(38,0) keeps every intermediate
    * below 1e38 at any plausible corpus size (N·Σdl·tf·1e6·22 at
    * N=1e12, Σdl=1e14 is ~1e35). BOTH polynomial chains — numerator
    * AND denominator — start from a DECIMAL(38,0) (Duck: HUGEINT)
    * factor: a bare-BIGINT denominator would wrap past 2^63 at
    * exactly those corpus sizes (10·Σdl·tf at Σdl=1e14 overflows for
    * tf ≥ 9224) and wrap silently under non-ANSI Spark while DuckDB
    * raised — the engines would diverge instead of hash-matching.
    *
    * Shape: the tf staging is ONE scan — tokens explode, the 6-term
    * IN-list filter drops non-query tokens MAP-SIDE (the shuffle
    * carries only query-term hits, ~terms/vocab of the corpus), and a
    * (doc, term)-keyed count with map-side partials lands the tf rows
    * (≤ 6 per doc). Measured 3× faster than the per-term
    * higher-order-function count (an interpreted per-element lambda ×
    * |terms| per doc — the interpreted-HOF hazard Text.gopherGate's
    * kernel note documents) and the shape an inverted-index build
    * already has. Memoized+persisted so its two consumers — the 6-row
    * df aggregate and the scorer — don't re-scan; scalars ride a
    * broadcast single-row frame; the per-doc sum is the query's one
    * further doc-keyed shuffle; the cut is a TakeOrderedAndProject
    * heap. */
  /** (doc_id, dl, term, tf) rows for `docs` — the staging scan shape
    * described above, shared by the registered queries (via the
    * memoized corpus staging) and the streaming serve gate (inline per
    * micro-batch, cost = batch tokens). Docs containing no query term
    * yield no rows — they score 0 by definition. */
  private[graft] def bm25Tf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(bm25Terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  private[graft] def bm25Staged(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x104-tf", dir) {
      // doc_id 0 is the query-anchor row of the CORPUS table; excluding
      // it is a corpus-staging concern, so the filter lives here, not in
      // bm25Tf — serve-gate batches score every arriving doc, id 0
      // included.
      bm25Tf(t(s, dir, "documents").filter(col("doc_id") =!= 0)).persist()
    }

  /** The frozen retrieval model derived from a corpus tf staging: the
    * 6-row document-frequency table and the single-row corpus scalars
    * (N, Σdl over matching docs). Both broadcast at the consumer. */
  private[graft] def bm25Dfreq(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))
  private[graft] def bm25Stats(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  /** Score tf rows against a frozen (dfreq, stats) model: ONE
    * definition shared by the registered x104/x105 queries and the
    * streaming serve gate, so batch and stream weight a document
    * identically. */
  private[graft] def bm25Score(tf: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_docs - df + 1) * 22 * sum_dl * tf) div " +
          "((CAST(df AS DECIMAL(38,0)) + 1) * (CAST(10 AS DECIMAL(38,0)) * sum_dl * tf " +
          "+ CAST(3 AS DECIMAL(38,0)) * sum_dl + CAST(9 AS DECIMAL(38,0)) * n_docs * dl)) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("score_micro").as("bm25_micro"))

  private[graft] def bm25TopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val tf = bm25Staged(s, dir)
    bm25Score(tf, bm25Dfreq(tf), bm25Stats(tf))
      .orderBy(desc("bm25_micro"), asc("doc_id"))
      .limit(k)
  }

  /** The serve-gate scorer: batch docs tf'd inline, scored under the
    * FROZEN corpus model, and triaged against the frozen top-k
    * admission floor (the k-th corpus score, single-row broadcast) —
    * `enters_topk` says whether an index refresh would surface the
    * arriving doc. The model is train-once/score-many (the x98/dsir
    * discipline): df, scalars, and floor all derive from the corpus
    * staging, never from the batch. */
  private[graft] def bm25ServeScore(s: SparkSession, batch: DataFrame,
      corpusDir: String, k: Int = 20): DataFrame =
    bm25FrozenServe(s, corpusDir, k)(batch)

  /** The frozen half of [[bm25ServeScore]] factored out so the
    * streaming gate can build it ONCE with the long-lived outer
    * session before the stream starts (foreachBatch hands a per-run
    * cloned session the identity-keyed memo would miss on) and close
    * over the returned scorer. */
  private[graft] def bm25FrozenServe(s: SparkSession, corpusDir: String,
      k: Int = 20): DataFrame => DataFrame = {
    val tfC = bm25Staged(s, corpusDir)
    val dfq = bm25Dfreq(tfC)
    val st = bm25Stats(tfC)
    // The admission floor is the k-th corpus score ONLY when the slate
    // is full: an under-filled slate (fewer than k matching docs —
    // empty corpus included) admits every arriving doc, because an
    // index refresh would surface it regardless of score. min() alone
    // would wrongly raise the floor to the weakest existing doc (and
    // NULL on an empty slate → null-3VL enters_topk), so the floor
    // collapses to Long.MinValue whenever count < k.
    val floor = bm25TopK(s, corpusDir, k)
      .agg(count(lit(1)).as("n_slate"),
        min("bm25_micro").as("min_micro"))
      .select(when(col("n_slate") < k, lit(Long.MinValue))
        .otherwise(col("min_micro")).as("floor_micro"))
    (batch: DataFrame) =>
      bm25Score(bm25Tf(batch), dfq, st)
        .crossJoin(broadcast(floor))
        .withColumn("enters_topk", col("bm25_micro") >= col("floor_micro"))
        .select("doc_id", "n_hit", "bm25_micro", "enters_topk")
  }

  /** DuckDB twin of [[bm25TopK]] (CTE-embeddable). N and Σdl count
    * only docs that match ≥ 1 query term — mirroring the Spark side,
    * where the scalars aggregate the persisted tf staging (zero-tf
    * docs already dropped) instead of re-scanning the corpus. A
    * constant doc-set shift in N/avgdl rescales scores monotonically;
    * rankers only need the order, and the twin replays the choice
    * exactly. */
  private def duckBm25TopK(k: Int): String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    // ONE tokenization pass, mirroring the Spark side's single staged
    // tf frame: df and the corpus scalars derive from the same
    // MATERIALIZED btf CTE instead of three independent
    // string_split/list_filter scans of `documents` — same rows, one
    // definition to keep in sync with bm25Tf. (Nested WITH keeps the
    // whole thing a parenthesizable SELECT for x105's embedding.)
    s"""WITH btf AS MATERIALIZED (
       |  SELECT doc_id, dl, term,
       |    CAST(len(list_filter(tk, x -> x = term)) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |        FROM documents WHERE doc_id <> 0)
       |  CROSS JOIN (SELECT unnest([$termList]) AS term)
       |  WHERE len(list_filter(tk, x -> x = term)) > 0),
       |bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM btf GROUP BY term),
       |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(dl) AS BIGINT) AS sum_dl
       |        FROM (SELECT doc_id, max(dl) AS dl FROM btf GROUP BY doc_id))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |  CAST(sum(score_micro) AS BIGINT) AS bm25_micro
       |FROM (
       |  SELECT doc_id, CAST((CAST(1000000 AS HUGEINT) * (n_docs - df + 1) * 22 * sum_dl * tf) //
       |      ((CAST(df AS HUGEINT) + 1) * (CAST(10 AS HUGEINT) * sum_dl * tf
       |        + CAST(3 AS HUGEINT) * sum_dl + CAST(9 AS HUGEINT) * n_docs * dl))
       |    AS BIGINT) AS score_micro
       |  FROM btf JOIN bdf USING (term) CROSS JOIN bst)
       |GROUP BY doc_id ORDER BY bm25_micro DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB 6-bit sign-bucket key over a list-of-float column. */
  private def duckSignKey(c: String): String =
    s"array_to_string(list_transform(range(1, 7), " +
      s"i -> CASE WHEN $c[i] >= 0 THEN '1' ELSE '0' END), '')"

  /** DuckDB twin of [[annLshMultiProbeTopK]] (CTE-embeddable). */
  private def duckLshMultiProbeTopK(k: Int): String =
    s"""SELECT kk.vec_id, ${duckRound(duckCosine("kk.embedding", "q.qe"), 6)} AS cos
       |FROM (SELECT vec_id, embedding, ${duckSignKey("embedding")} AS bk FROM embeddings) kk
       |JOIN (SELECT embedding AS qe, unnest(list_transform(range(0, 7),
       |        j -> CASE WHEN j = 0 THEN qbk
       |             ELSE concat(substr(qbk, 1, CAST(j - 1 AS INTEGER)),
       |               CASE WHEN substr(qbk, CAST(j AS INTEGER), 1) = '1'
       |                    THEN '0' ELSE '1' END,
       |               substr(qbk, CAST(j + 1 AS INTEGER), 6)) END)) AS pbk
       |      FROM (SELECT embedding, ${duckSignKey("embedding")} AS qbk
       |            FROM embeddings WHERE vec_id = 0)) q
       |  ON kk.bk = q.pbk
       |WHERE kk.vec_id <> 0
       |ORDER BY cos DESC, kk.vec_id LIMIT $k""".stripMargin

  /** DuckDB twin of [[annLshTopK]] as a flat SELECT (CTE-embeddable). */
  private def duckLshTopK(k: Int): String =
    s"""SELECT kk.vec_id, ${duckRound(duckCosine("kk.embedding", "q.qe"), 6)} AS cos
       |FROM (SELECT vec_id, embedding, ${duckSignKey("embedding")} AS bk FROM embeddings) kk
       |CROSS JOIN (SELECT embedding AS qe, ${duckSignKey("embedding")} AS qbk
       |            FROM embeddings WHERE vec_id = 0) q
       |WHERE kk.bk = q.qbk AND kk.vec_id <> 0
       |ORDER BY cos DESC, kk.vec_id LIMIT $k""".stripMargin

  /** DuckDB twin of [[annIvfTopK]]'s training + assignment as a WITH
    * body: defines `{x}asg(vec_id, embedding, cid)` (final
    * inverted-list assignment) and `{x}qp(qe, qcid)` (the query's
    * nprobe=2 probe rows), trained over relation `src` with every CTE
    * name prefixed by `x` so two differently-trained chains can share
    * one WITH clause (x74 replays the historical-slice training next
    * to the full-corpus one). Shared by the x34/x35/x48/x71/x74
    * oracles so they can never diverge. */
  /** `kExpr` is the quantizer width as a SQL expression: the literal
    * "16" (default — byte-for-byte the historical chain) or the
    * K ∝ N subquery (see [[corpusK]]); it bounds the seed CTE only,
    * everything downstream scales with however many seeds it emits. */
  private def duckIvfChainFor(src: String, x: String, kExpr: String = "16"): String = {
    def lloyd(i: Int, cin: String, cout: String): String =
      s"""${x}a$i AS (SELECT e.vec_id, e.embedding, c.cid,
         |        row_number() OVER (PARTITION BY e.vec_id
         |          ORDER BY ${duckRound(duckCosine("e.embedding", "c.ce"), 6)} DESC,
         |            c.cid DESC) AS rn
         |      FROM $src e CROSS JOIN $cin c),
         |${x}s$i AS (SELECT vec_id, embedding, cid FROM ${x}a$i WHERE rn = 1),
         |${x}m$i AS (SELECT cid, p.pos,
         |        CAST(sum(CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1000000.0 + 0.5)
         |          AS BIGINT)) AS BIGINT) AS sm,
         |        count(*) AS n
         |      FROM ${x}s$i CROSS JOIN ${x}pos p WHERE p.pos <= len(embedding)
         |      GROUP BY cid, p.pos),
         |${x}n$i AS (SELECT cid,
         |        list(CAST(CAST(sm AS DOUBLE) / n / 1000000.0 AS FLOAT) ORDER BY pos) AS ce
         |      FROM ${x}m$i GROUP BY cid),
         |$cout AS (SELECT c.cid, coalesce(${x}n$i.ce, c.ce) AS ce
         |      FROM $cin c LEFT JOIN ${x}n$i ON c.cid = ${x}n$i.cid)"""
    s"""${x}pos AS (SELECT unnest(range(1,
       |         (SELECT max(len(embedding)) + 1 FROM $src))) AS pos),
       |${x}c0 AS (SELECT vec_id AS cid, embedding AS ce
       |       FROM $src WHERE vec_id BETWEEN 1 AND $kExpr),
       |${lloyd(1, s"${x}c0", s"${x}c1")},
       |${lloyd(2, s"${x}c1", s"${x}c2")},
       |${x}f AS (SELECT e.vec_id, e.embedding, c.cid,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY ${duckRound(duckCosine("e.embedding", "c.ce"), 6)} DESC,
       |            c.cid DESC) AS rn
       |      FROM $src e CROSS JOIN ${x}c2 c),
       |${x}asg AS (SELECT vec_id, embedding, cid FROM ${x}f WHERE rn = 1),
       |${x}qp AS (SELECT embedding AS qe, cid AS qcid FROM ${x}f
       |       WHERE vec_id = 0 AND rn <= 2)""".stripMargin
  }

  /** The unprefixed full-corpus chain (the pre-x74 form, byte-for-byte). */
  private lazy val duckIvfChain: String = duckIvfChainFor("embeddings", "")

  /** The K ∝ N variant of [[duckIvfChain]] — identical CTE names, seed
    * width derived from the corpus count exactly as [[corpusK]] does.
    * Evaluates to 16 at every spec SF (N ≤ 2000), so queries switching
    * to it keep their sf0.01 oracle hashes. */
  private lazy val duckIvfChainKN: String = duckIvfChainFor("embeddings", "",
    kExpr = "(SELECT greatest(16, count(*) // 125) FROM embeddings)")

  /** DuckDB twin of [[annIvfTopK]]'s probe (requires [[duckIvfChain]]
    * in scope). */
  private def duckIvfTopK(k: Int): String =
    s"""SELECT asg.vec_id, ${duckRound(duckCosine("asg.embedding", "qp.qe"), 6)} AS cos
       |FROM asg JOIN qp ON asg.cid = qp.qcid
       |WHERE asg.vec_id <> 0
       |ORDER BY cos DESC, asg.vec_id LIMIT $k""".stripMargin

  /** Bench's explicit "staging" warmup (r16 verdict #1): build and
    * materialize every SHARED staged family once — the token staging
    * ([[tokStaged]]), the shingle/decontam sides + bloom
    * ([[decontamSides]], [[decontamBloomFor]]), the minhash signature
    * table ([[minhashHashed]]), and the trained quantizers (IVF
    * centroids at both the fixed and corpus-derived K, the PQ
    * codebook). Bench charges this call to a VISIBLE `staging` row and
    * clears the memo right after, so the per-query attribution
    * discipline (each query's cold sample pays its own staging
    * rebuild) is unchanged — what this absorbs is the BOX's one-time
    * cost (page cache, parquet footers, codegen/JIT of the staging
    * shapes), which previously landed on whichever family member
    * happened to run first in registry order and made that query's
    * cold number order-dependent (the r16 x118 22 s vs 1.9 s
    * canonical gap). */
  def warmSharedStaging(s: SparkSession, dir: String): Unit = {
    def mat(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    mat(tokStaged(s, dir))
    val (bench, corpus) = decontamSides(s, dir)
    mat(bench); mat(corpus)
    decontamBloomFor(s, dir)
    mat(minhashHashed(s, dir))
    trainedCentroids(s, dir)
    trainedCentroids(s, dir, corpusK(s, dir))
    Curation.trainPqCodebook(s, dir)
    ()
  }

  /** Whether the session memo holds any artifact [[clearMemo]] would
    * release — sampled by Bench right after a retry run (memo cleared
    * going in, so a positive probe means the retry REBUILT family
    * staging inside its timed window). The r18 verdict's attribution
    * hole: a retry of a memoized query re-pays staging the steady-state
    * pass amortizes, so its number is cold-shaped, not warm-shaped — the
    * `retry_memo_cold` column lets the artifact reader compare it
    * against the right baseline instead of misreading it as a
    * reproduced residual. */
  def memoPopulated(s: SparkSession): Boolean = SessionMemo.populated(s)

  /** Release every staged artifact memoized for session `s`
    * ([[SessionMemo.clear]]). Bench calls this between queries so one
    * query's persisted signature table can't pressure the next query's
    * measurement; any long-lived session embedding these operators can
    * use it as the explicit cache-release hook. */
  def clearMemo(s: SparkSession): Unit = SessionMemo.clear(s)

  /** (doc_id, sh): distinct 3-shingle sets for every document with >= 3
    * tokens. Tokens are staged as their own column so the split() runs
    * once per row, not once per shingle position inside the HOF lambda
    * (see Text.shingles PERF note).
    *
    * The spread repartition is LAYOUT-CONDITIONAL: only a single-file
    * corpus (the testdata layout — one parquet file that bin-packs
    * into one scan split and would pin all hashing to one task) gets
    * repartitioned, and even then only the (doc_id, text) projection.
    * Any multi-file corpus is already split-parallel, and the scale
    * rule — signatures shuffle, not payloads — is mechanically
    * enforced: PlanAuditSpec asserts the spread exists on the
    * single-file layout AND that no payload repartition appears over a
    * multi-file copy. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    tokStaged(s, dir)
      .withColumn("sh", Text.shinglesNative(col("tk")))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))

  /** Memoized persisted token-array corpus staging — the ONE
    * scan+tokenize for everything downstream of a token array: the
    * scrub family (x91/x92/x95/x115 via [[tokenizedDocs]]), the
    * shingle family ([[shingled]] → decontam x39/x79/x118/x91/x95,
    * minhash x22/x58, source audits x85/x86/x89, dup-fraction x60),
    * the token-consumer analytics (x30/x43/x49/x50/x57/x61 — converted
    * r11 after the whole-registry sf1 pass measured their per-query
    * re-tokenize at 6-9× warm slopes), and Shaping (x110-x113). r10 measured the
    * map-side tokenize+gram floor at ~4-7× warm slope per 10× data
    * for each family member SEPARATELY; x94's picks memo proved the
    * fix is persisting the token arrays once (13.3 → 1.1 s combined).
    * Downstream derivations (shingles, positional grams) stay map-side
    * HOFs over the cached arrays. At cluster scale this is the staged
    * corpus table a real pipeline writes once per ingest generation
    * (the x74/x101 bucketed-catalog lifecycle); in-session the persist
    * plays that role and clearMemo is the generation release.
    *
    * The single-file spread lives HERE (layout-conditional, same rule
    * as before: only a one-split corpus repartitions, and only the
    * 4-column projection) so the cached partitioning carries the
    * parallelism to every consumer. */
  private[operators] def tokStaged(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "tok-corpus", dir) {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      // explicit partition COUNT (r19): a bare repartition(col) is
      // subject to AQE coalescing, and under advisory-sized coalescing
      // (parallelismFirst=false, Bench r19) a KB-scale corpus would
      // collapse to ONE task — serializing the tokenize kernel this
      // spread exists to parallelize, for every family rebuild.
      // SIZED BY THE INPUT, capped at the session knob (r20, the r19
      // verdict's #2): the r19 form pinned the count at
      // numShufflePartitions outright, so a KB corpus cached as 32
      // near-empty partitions and every downstream stage of every
      // family consumer paid tasks-per-stage scheduling on ~150-doc
      // slivers (measured: the sub-2 s dedup rows ran 1.5-2× slower at
      // local[32] than local[8] purely from this). One partition per
      // ~1 MB of corpus file keeps the tokenize fan-out proportional
      // to the data — a 32 MB single-file corpus still spreads the
      // full session width, a 600 KB one stays a single healthy task —
      // and this code path only fires for SINGLE-FILE corpora (a
      // multi-file corpus is already split-parallel), so the session
      // cap is the correct ceiling at any real volume.
      val spread =
        if (base.inputFiles.length <= 1) {
          // through the session's Hadoop FileSystem, so s3a:// and
          // hdfs:// corpora size by their bytes like file: ones do
          val bytes = base.inputFiles.headOption.map { f =>
            val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
            p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p).getLen
          }.getOrElse(0L)
          val sized = math.max(1L, math.min(
            s.sessionState.conf.numShufflePartitions.toLong,
            bytes / (1L << 20) + 1L)).toInt
          base.repartition(sized, col("doc_id"))
        } else base
      spread.select(col("doc_id"), col("lang"), col("source"),
          Text.tokens(col("text")).as("tk"))
        .persist()
    }

  /** (benchmark shingle set, corpus doc→shingle pairs) for the
    * decontamination family — ONE definition shared by x39 (exact
    * broadcast join) and x79 (bloom-prefiltered) so the two queries
    * can never check different corpus/benchmark splits. Stand-in eval
    * set: every 50th doc. */
  private[graft] def decontamSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sh = shingled(s, dir)
    // the benchmark shingle set is read THREE times per x79 run (bloom
    // aggregate action, confirm-join build side, and again on any
    // reconstruction — the plan-audit sweeps build every registered
    // query) — memoize the persisted set like the other small derived
    // artifacts (minhashHashed / trained-quantizer pattern)
    val bench = SessionMemo.frame(s, "x79-bench", dir) {
      sh.filter(col("doc_id") % 50 === 0)
        .select(explode(col("sh")).as("s")).distinct()
        .persist()
    }
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    (bench, corpus)
  }

  /** doc → (…, tk, sh) shingle staging — the ONE tokenize+shingle
    * definition shared by [[shingled]] (batch) and the streaming
    * decontamination gate, so the bloom's input shingles and the
    * gate's probe shingles can never drift apart (a drift would turn
    * the gate's no-false-negative contract into silent drops). */
  private[graft] def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", Text.tokens(col("text")))
      .withColumn("sh", Text.shinglesNative(col("tk")))

  /** Suspect predicate over a staged `sh` column: ≥1 shingle hits the
    * frozen benchmark bloom. Shared by EventStream.decontamGate and
    * its batch twin in StreamingSpec. */
  private[graft] def bloomSuspect(bloom: Array[Byte]): Column =
    exists(col("sh"), sh =>
      call_function("graft_might_contain", lit(bloom), xxhash64(sh)))

  /** Shared tail of the decontamination family: exact confirm join +
    * per-doc shared-shingle count. The caller chooses the join shape
    * for the benchmark side: x39 passes `broadcast(bench)` (its whole
    * premise is that eval sets are broadcastable), x79 passes the bare
    * frame — its premise is the OPPOSITE (the benchmark union has
    * outgrown a hash relation, so the confirm join must be allowed to
    * shuffle and the bloom prefilter is what keeps that shuffle
    * small). A hint hardwired here would force x39's shape onto x79's
    * scale story. */
  private def decontamReport(benchSide: DataFrame, corpus: DataFrame): DataFrame =
    corpus.join(benchSide, "s")
      .groupBy("doc_id")
      .agg(countDistinct("s").as("n_shared"))
      .orderBy("doc_id")

  /** DuckDB decontamination twin — shared VERBATIM by x39 and x79: the
    * bloom prefilter is a pure pass-through (no false negatives by
    * construction, and the exact confirm join removes false
    * positives), so both queries have the same exact answer. */
  /** The ONE benchmark/corpus split CTE pair (every-50th-doc eval-set
      stand-in) — shared by the whole decontamination family's oracles
      (x39/x79 via duckDecontam, x91, x95, x118) so the flag-definition
      SQL cannot desynchronize across the five twins. */
  private[operators] val duckBenchSet =
    "bench AS (SELECT DISTINCT unnest(sh) AS s FROM shs WHERE doc_id % 50 = 0)"
  private[operators] val duckDecontamSides =
    s"""$duckBenchSet,
       |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shs WHERE doc_id % 50 <> 0)""".stripMargin

  private val duckDecontam =
    s"""WITH $duckShingles,
       |$duckDecontamSides
       |SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
       |FROM corpus c JOIN bench b ON c.s = b.s
       |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  /** x79 bloom sizing at spec SF: 2^20 bits (128 KiB) over an estimated
    * 2^16 items — far below BloomFilterAggregate's conf caps. At
    * production scale size by the standard identity
    * `bits ≈ 1.44 · n · log2(1/fpp)` (≈1.2 GiB for 10^9 eval shingles
    * at 1% fpp — still broadcastable bytes where a 10^9-row hash
    * relation is not). */
  private val BloomItems = 1L << 16
  private val BloomBits = 1L << 20

  /** Benchmark bloom bytes for the decontamination family — ONE
    * builder for x79 and the streaming gate (EventStream.decontamGate
    * freezes these bytes into a stateless stream filter). Null when
    * the benchmark is empty. */
  private[graft] def decontamBloom(bench: DataFrame): Array[Byte] =
    bench
      .agg(call_function("graft_bloom_agg", xxhash64(col("s")),
        lit(BloomItems), lit(BloomBits)).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** [[decontamBloom]] over the testdata benchmark slice, memoized per
    * (session, dir) like the other collected artifacts (trained
    * centroids / corpusK): the bloom aggregate is an eager job, and x79
    * is reconstructed by every registry-wide sweep (PlanAuditSpec's
    * no-cartesian / no-unpartitioned-window passes, Verify, the plan
    * test) — without the memo each sweep re-runs the job. */
  private[operators] def decontamBloomFor(s: SparkSession, dir: String): Array[Byte] =
    SessionMemo.value(s, "decontam-bloom", dir)(decontamBloom(decontamSides(s, dir)._1))

  /** Memoized (doc_id, sh, hs) minhash input table — shingle sets plus
    * their portable md5 base hashes — shared by x22 (Jaccard pairs) and
    * x58 (containment pairs) so both read ONE persisted signature
    * table. */
  private[operators] def minhashHashed(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x22-hashes", dir) {
      shingled(s, dir)
        .withColumn("hs", Text.md5LongsNative(col("sh"), Text.MinhashMod))
        .persist()
    }

  /** LSH candidate pairs (doc_a < doc_b) from the 16-slot minhash,
    * banded `bands`דrows` — the ONLY pair generator for the minhash
    * family (band-key equality join, never all-pairs); shared by
    * x22/x58 at the registered 4×4.
    *
    * (bands, rows) is the SCALE DIAL: collision probability at
    * Jaccard s is 1−(1−s^rows)^bands, so fewer/wider bands (e.g. 2×8,
    * threshold s* = (1/b)^(1/r) ≈ 0.92 vs 4×4's ≈ 0.71) admit far
    * fewer sub-threshold false-positive candidates — the term that
    * grows with bucket occupancy as N grows. BandDialSpec measures
    * exactly that growth at sf0.1 vs sf1 for both settings
    * (BASELINE.md r9 dial table); the registered queries stay 4×4,
    * which the oracle chain mirrors. */
  private[operators] def minhashCandPairs(
      d: DataFrame, bands: Int = 4, rows: Int = 4): DataFrame = {
    val bnd = bandRows(d, bands, rows)
    bnd.as("a").join(bnd.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** (doc_id, bk) band-key rows from a hashed signature table — the
    * ONE band-key definition shared by the pair generator above and
    * the x101 persisted band index (an index keyed on anything else
    * would silently miss candidates the registered pair queries
    * report). */
  private[operators] def bandRows(
      d: DataFrame, bands: Int = 4, rows: Int = 4): DataFrame =
    d.select(col("doc_id"),
        Text.minhashNative(col("hs"), bands * rows).as("sig"))
      .select(col("doc_id"),
        explode(Text.bandKeysMd5(col("sig"), bands, rows)).as("bk"))

  /** Confirm-stage input shared by x22/x58: candidate pairs with both
    * shingle sets attached plus the staged intersection size — one
    * definition, so a change to the confirm join (null handling,
    * column names) cannot diverge the two queries. */
  private def minhashConfirm(s: SparkSession, dir: String): DataFrame = {
    val d = minhashHashed(s, dir)
    minhashCandPairs(d)
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("double"))
  }

  /** DuckDB CTE chain shingles → minhash signatures → banded candidate
    * pairs: defines `hsd(doc_id, sh, hs)` and `cand(doc_a, doc_b)` —
    * ONE definition shared by the x22 and x58 oracles (they must check
    * the same candidate graph). */
  private lazy val duckMinhashCand: String = {
    val m = Text.MinhashMod
    val slots = (0 until 16).map(i =>
      s"list_min(list_transform(hs, h -> (h * ${Text.affineA(i)} + ${Text.affineB(i)}) % $m))")
      .mkString(",\n            ")
    s"""$duckShingles,
       |hsd AS (SELECT doc_id, sh, list_transform(sh,
       |          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $m) AS hs
       |        FROM shs WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, [$slots] AS sig
       |        FROM hsd),
       |bands AS (SELECT doc_id, unnest(list_transform(range(0, 4),
       |            b -> md5(array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ',')))) AS bk
       |          FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Per-(source, shingle-hash) staging shared by the source-audit
    * family (x85 exact overlap matrix, x86 sketch twin): the memoized
    * x22 signature table joined to each doc's source, exploded to one
    * row per shingle hash. ONE definition so the exact and sketch
    * audits can never read different fingerprint spaces. Hash-space
    * collisions (md5 mod 2^31-1) are the standard fingerprint
    * tradeoff; both engines replay the identical draw. */
  private[graft] def sourceHashRows(s: SparkSession, dir: String): DataFrame =
    minhashHashed(s, dir)
      .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
      .select(col("source"), explode(col("hs")).as("h"))

  /** Memoized persisted distinct (source, fp) set — x85 reads it three
    * times in one plan (per-source totals + both self-join sides) and
    * x89 twice more (rank sizes + attribution); without the persist
    * each consumer re-runs the md5+explode+distinct pipeline. Same
    * lifecycle as [[minhashHashed]] (released by clearMemo). */
  private[operators] def sourceFps(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x85-fps", dir) {
      sourceHashRows(s, dir).distinct().persist()
    }

  /** DuckDB twin of [[sourceHashRows]]: extends the x22 oracle chain
    * (same `hsd`) with `hh(source, h)`. Unreferenced CTEs from the
    * base chain (sig/bands/cand) are never materialized by DuckDB, so
    * reusing the x22 chain costs nothing and pins hsd identity. */
  private lazy val duckSourceHashRows: String =
    s"""$duckMinhashCand,
       |hh AS (SELECT d.source, unnest(h.hs) AS h
       |       FROM hsd h JOIN documents d USING (doc_id))""".stripMargin

  /** Sign-LSH bucket width tied to the corpus — the x48 corpusK lesson
    * applied to the SELF-JOIN bucket dial. At a FIXED width the
    * in-bucket candidate count is quadratic in N (measured: x83 15.7×
    * and x84 12.0× warm per 10× data at 6 bits, BASELINE.md r9);
    * 2^bits ∝ N pins expected occupancy at ≤ ~31 vectors, so the
    * self-join total is N × 31 — linear. Smallest b in [6, 62] with
    * 2^b · 125 ≥ 4N; the floor keeps every spec-SF corpus (N ≤ 2000)
    * on the historical 6-bit key (existing oracle hashes unchanged),
    * and b is bounded by dim = 64 raw-component signs anyway (past
    * that the x80 rp family supplies arbitrary extra hyperplanes).
    * Only the SELF-JOIN family (x32/x83/x84) takes the dial: the
    * broadcast probe queries (x25/x51) scan one bucket per probe —
    * already linear at fixed width, and their published recall story
    * depends on it. Oracle twin: the `sb` CTE below, same integer
    * search. */
  private[graft] def signBitsFor(n: Long): Int =
    // 2^b·125 ≥ 4N, written as 2^b ≥ ceil(4N/125) so no term can
    // overflow a 64-bit integer even at b = 62 — DuckDB evaluates the
    // predicate for EVERY candidate b, not just until the first hit
    (6 to 62).find(b => (1L << b) >= (4L * n + 124L) / 125L).getOrElse(62)

  private[operators] def corpusSignBits(s: SparkSession, dir: String): Int =
    SessionMemo.value(s, "sign-bits", dir)(
      signBitsFor(t(s, dir, "embeddings").count()))

  /** DuckDB twin of [[signBitsFor]] over the embeddings count: defines
    * `sb(bits)`. */
  private val duckSignBitsCte: String =
    """sb AS (SELECT CAST(coalesce(min(b), 62) AS INTEGER) AS bits FROM
      |         (SELECT CAST(r.range AS INTEGER) AS b FROM range(6, 63) r)
      |       WHERE (CAST(1 AS BIGINT) << b)
      |         >= (4 * (SELECT count(*) FROM embeddings) + 124) // 125)""".stripMargin

  /** Corpus-width sign-bucket key for a DuckDB `list<float>` column —
    * requires [[duckSignBitsCte]] in scope and `sb` cross-joined. */
  private def duckSignKeyN(c: String): String =
    s"array_to_string(list_transform(range(1, sb.bits + 1), " +
      s"i -> CASE WHEN $c[i] >= 0 THEN '1' ELSE '0' END), '')"

  /** kNN edge set shared by the graph family (x83 edge report, x84
    * hubness audit): sign-LSH bucketed candidate EQUALITY self-join
    * (never all-pairs) on the corpus-width bucket key, per-anchor
    * top-3 via a constant-k window that WindowGroupLimit prunes
    * partition-locally before the anchor shuffle. Returns
    * (src, rnk, nbr, cos). */
  private[operators] def knnEdges(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("bk", Vectors.signKey(col("embedding"), corpusSignBits(s, dir)))
    val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"), col("bk"))
    val b = e.select(col("vec_id").as("nbr"), col("embedding").as("eb"), col("bk"))
    val w = Window.partitionBy("src").orderBy(desc("cos"), asc("nbr"))
    a.join(b, Seq("bk"))
      .filter(col("src") =!= col("nbr"))
      .withColumn("cos", cosine6(col("ea"), col("eb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("src", "rnk", "nbr", "cos")
  }

  /** DuckDB twin of [[knnEdges]]: defines `knn(src, rnk, nbr, cos)` —
    * ONE definition shared by the x83 and x84 oracles so both audit
    * the same graph, over the same corpus-width bucket key. */
  private lazy val duckKnnEdges: String =
    s"""$duckSignBitsCte,
       |kk AS (SELECT vec_id, embedding,
       |         ${duckSignKeyN("embedding")} AS bk
       |       FROM embeddings CROSS JOIN sb),
       |kcand AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
       |            ${duckRound(duckCosine("a.embedding", "b.embedding"), 6)} AS cos
       |          FROM kk a JOIN kk b ON a.bk = b.bk AND a.vec_id <> b.vec_id),
       |knn AS (SELECT src, rnk, nbr, cos FROM (
       |          SELECT src, nbr, cos, row_number() OVER (
       |            PARTITION BY src ORDER BY cos DESC, nbr) AS rnk FROM kcand)
       |        WHERE rnk <= 3)""".stripMargin

  /** SimHash near-dup pairs (doc_a < doc_b, hamming <= 5) — the x23
    * pipeline, shared with x36's cluster resolution. Fingerprints feed
    * both sides of the chunk self-join: memoize+persist so the 60-bit
    * vote kernel runs once per document, spread across cores by the
    * repartition inside shingled(). */
  private[operators] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val f = SessionMemo.frame(s, "x23-simhash", dir) {
      shingled(s, dir).select(col("doc_id"),
        Text.simhashNative(Text.md5LongsNative(col("sh"), 0L), 60).as("fp"))
        .persist()
    }
    val chunks = f.select(col("doc_id"), col("fp"),
      posexplode(Text.simhashChunks(col("fp"), chunks = 6, chunkBits = 10)).as(Seq("pos", "chunk")))
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.pos") === col("b.pos") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fa"), col("b.fp").as("fb"))
      .distinct()
    cand.withColumn("hamming", Text.hamming(col("fa"), col("fb"), 60))
      .filter(col("hamming") <= 5)
  }

  /** Memoized connected components over the simhash near-dup pair
    * graph — the iterative O(log n) loop is the single most expensive
    * SHARED derivation in the dedup family (x36 clusters, x76 survivor
    * ranking, x96 leakage split, x102 funnel all consume the IDENTICAL
    * graph), so it resolves once per (session × corpus generation) and
    * persists like the other shared stagings (tokStaged discipline;
    * r15 verdict #3 named x102's re-derivation the cut). Columns:
    * (node, component). Bench's per-query clearMemo keeps cold
    * attribution honest — within a query (and its warm rerun) the loop
    * runs once. */
  private[operators] def simhashComponents(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "simhash-components", dir) {
      Components.connectedComponentsAlternating(
        simhashPairs(s, dir), "doc_a", "doc_b").persist()
    }

  /** The x27 quality heuristics as ONE definition (Spark frame + the
    * DuckDB expression fragments), shared by the registered score query
    * and x76's survivor selection so the two can never drift. Tokens
    * staged once per row: the expression is referenced by four output
    * columns, and an inlined split would re-tokenize per reference
    * (multi-referenced aliases don't collapse). Takes the docs frame
    * so a caller can pre-filter BEFORE the tokenization cost (x76
    * scores only cluster members, never the whole corpus). */
  /** Per-(source, quality-bin) counts — the micro-aggregate the
    * registered x88 and its streaming twin (EventStream
    * .qualityDriftGate) both fold; quality is binned in the SAME scan
    * that carries `source`. */
  private[graft] def sourceBinCounts(docs: DataFrame): DataFrame =
    qualityOf(docs, col("source"))
      .select(col("source"), floor(col("quality") * 10).cast("long").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))

  /** x88's exact-integer scaled-L1 drift of per-(source,bin) counts
    * `cs` against a reference histogram `cb(bin, cb)` with total
    * `tot(t)` — ONE definition for the self-referenced batch query and
    * the frozen-reference streaming gate. Left join + fill(0): a
    * batch bin the reference never saw still contributes its c·T term
    * (impossible when the reference is derived from `cs` itself, the
    * registered x88 case — there the left join degenerates to the
    * inner join). Unobserved reference bins fold in without a
    * source×bin grid: Σ_unobs C_b·n_s = (T − Σ_obs C_b)·n_s. */
  private[graft] def sourceDriftAgainst(
      cs: DataFrame, cb: DataFrame, tot: DataFrame): DataFrame =
    cs.join(broadcast(cb), Seq("bin"), "left").na.fill(0L, Seq("cb"))
      .join(broadcast(cs.groupBy("source").agg(sum("c").as("ns"))), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term", abs(col("c").cast("decimal(38,0)") * col("t")
        - col("cb").cast("decimal(38,0)") * col("ns")))
      .groupBy("source")
      .agg(max("ns").as("n_docs"),
        (sum(col("term")) + (max(col("t")) - sum(col("cb")))
          .cast("decimal(38,0)") * max(col("ns")))
          .cast("long").as("drift"))
      .orderBy(desc("drift"), asc("source"))

  /** Per-doc quality frame. `extra` appends pass-through columns (x88
    * carries `source` through the SAME single scan instead of joining
    * back); the no-arg form is x27's frame, column set unchanged. */
  private def qualityOf(docs: DataFrame, extra: Column*): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val nTok = size(col("tk"))
    val nStop = size(filter(col("tk"), tk => tk.isin(stops: _*)))
    val ratio = nStop.cast("double") / nTok
    docs
      .withColumn("tk", Text.tokens(col("text")))
      .select(Seq(
        col("doc_id"),
        nTok.as("n_tokens"),
        pround(ratio, 6).as("stop_ratio"),
        pround((col("n_chars") - (nTok - 1)).cast("double") / nTok, 4).as("avg_token_len"),
        pround((lit(1.0) - ratio) * least(nTok.cast("double"), lit(50.0)) / 50.0, 6).as("quality"))
        ++ extra: _*)
  }

  /** Recursive-CTE replay of the component closure over the simhash
    * candidate graph (requires [[duckSimhashCand]] under WITH
    * RECURSIVE): defines pairs/e/reach and `comp(doc_id, component)`.
    * ONE definition shared by the x36 and x76 oracles so the closure
    * can never drift. */
  private val duckComponents: String =
    """pairs AS (SELECT doc_a, doc_b FROM cand
      |          WHERE bit_count(xor(fa, fb)) <= 5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |         FROM reach GROUP BY a)""".stripMargin

  private val duckNStop = "len(list_filter(string_split(text, ' '), " +
    "tk -> list_contains(['the','a','of','and','to','in','is','on'], tk)))"
  private val duckNTok = "len(string_split(text, ' '))"
  private def duckQuality: String =
    duckRound(s"(1.0 - $duckNStop * 1.0 / $duckNTok) * " +
      s"least($duckNTok * 1.0, 50.0) / 50.0", 6)

  /** The training-mixture weights (lang → micro-unit share), ONE
    * definition for x53's budget planner and x78's interleave — the
    * two views of the same mixture config. Micro-units keep every
    * derived quantity in exact integer arithmetic on both engines. */
  private val mixtureWeights = Seq(("en", 400000L), ("zh", 150000L),
    ("de", 150000L), ("es", 150000L), ("fr", 150000L))

  /** The oracle twin of [[mixtureWeights]] as a CTE fragment. */
  private def duckMixtureWeights: String =
    "w(lang, w_micro) AS (VALUES " + mixtureWeights
      .map { case (l, m) => s"('$l', $m)" }.mkString(", ") + ")"

  /** The row-level epoch layout (doc_id, text, okey, shard, h6) —
    * the frame the physical export writes via
    * `repartition(shard).sortWithinPartitions(shard, okey, doc_id)
    * .write.partitionBy(shard)`; [[epochShardManifest]] aggregates
    * the same rows into the manifest, so the spec's written-files
    * checksum and the registered manifest derive from ONE layout
    * definition. */
  private[graft] def epochShardRows(
      s: SparkSession, dir: String, seed: String): DataFrame = {
    val okey = md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
    val shard = conv(substring(md5(concat(lit("shard:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 8
    val h6 = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        okey.as("okey"), shard.as("shard"), h6.as("h6"))
  }

  /** x77's epoch-shard manifest, parameterized over the epoch seed —
    * ONE definition for the registered query ("ep1") and the
    * invariant spec's second epoch ("ep2"), so the membership/checksum
    * comparison can never drift against a stale re-derivation.
    * Columns: (shard, n_docs, shard_tokens, head_doc, order_chk).
    * See the x77 registry comment for the full design argument. */
  private[graft] def epochShardManifest(
      s: SparkSession, dir: String, seed: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    epochShardRows(s, dir, seed)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        max(when(col("rn") === 1, col("doc_id"))).as("head_doc"),
        expr("cast(sum(cast(rn * h6 as decimal(38,0))) % 1000000000000000000 as bigint)")
          .as("order_chk"))
      .orderBy("shard")
  }

  /** x94's 3-round BPE chain — ONE definition for the registered merge
    * log (x94) and the tokenizer-coverage audit (x114): returns the
    * per-round picks (a, b, pair count), the per-round post-merge
    * token totals, and the FINAL staged corpus (doc_id, lang, st, tk).
    *
    * PERSIST LIFECYCLE (r14 verdict #1): the prior form memoized all
    * four round frames (st0–st3) simultaneously — on top of x95's own
    * four generations this was the suite-wide storage pressure the r14
    * driver artifact read as eviction+recompute. Now the chain is
    * derived EAGERLY inside the stamped-picks derivation: each round's
    * argmax and token total are collected as soon as that generation
    * materializes, and generation r−1 is unpersisted the moment
    * generation r is live — at most TWO corpus generations persisted
    * at any instant. Only the ROUND-3 frame stays in the frame memo
    * (it is the one frame a consumer reads as data — x114's coverage
    * audit; x94 now composes entirely over the stamped driver values),
    * so the steady-state footprint is one frame, not four. Loop
    * discipline and the sentinel-framing argument live on the x94
    * registry comment. */
  private[operators] def bpeChain(s: SparkSession, dir: String)
      : (Vector[(String, String, Long)], Vector[Long], DataFrame) = {
    val SEP = "\u001f"
    val sep2 = SEP + SEP
    val sepQ = java.util.regex.Pattern.quote(sep2)
    // each staged frame CARRIES its token array: element_at inside
    // the pair lambda would otherwise re-run the split per element
    // (the Text.shingles O(len²) trap), and the picks — recomputed
    // every invocation — then read cached arrays instead of
    // re-splitting the whole corpus per round
    def staged(df: DataFrame): DataFrame =
      df.withColumn("tk", split(trim(col("st"), SEP), sepQ))
    def base: DataFrame =
      staged(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit(SEP), array_join(split(col("text"), " "), sep2), lit(SEP))
            .as("st")))
    // column-form replace, not an expr() splice: the merge pair
    // comes from the corpus, and a token containing a quote or
    // backslash must ride as DATA, never through the SQL parser
    def mergeRound(prev: DataFrame, a: String, b: String): DataFrame =
      staged(prev.select(col("doc_id"), col("lang"),
        replace(col("st"), lit(SEP + a + sep2 + b + SEP),
          lit(SEP + a + " " + b + SEP)).as("st")))
    // picks AND totals are stamped DRIVER VALUES (the corpusK
    // discipline): recomputing the three argmaxes costs a full-corpus
    // pair aggregation each, so only the first derivation per corpus
    // generation pays them — and deriving the totals in the same
    // eager walk is what lets each spent generation release before
    // the next one builds
    val (picks, totals) = SessionMemo.value(s, "x94-picks", dir) {
      var st = base.persist()
      var ps = Vector.empty[(String, String, Long)]
      var ts = Vector.empty[Long]
      (1 to 3).foreach { r =>
        val pick = st
          .filter(size(col("tk")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("a"),
              element_at(col("tk"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("a"), asc("b"))
          .limit(1).head()
        val (a, b, n) = (pick.getString(0), pick.getString(1), pick.getLong(2))
        val prev = st
        // round 3's frame goes through the frame memo (x114 reads it
        // as data); intermediates persist locally and release below
        st = if (r == 3) SessionMemo.frame(s, "x94-st3", dir)(mergeRound(prev, a, b).persist())
             else mergeRound(prev, a, b).persist()
        // one action materializes generation r while r−1 is still
        // cached, then r−1 releases — never more than 2 live
        val tokensAfter =
          st.agg(sum(size(col("tk")).cast("long"))).head.getLong(0)
        prev.unpersist(blocking = false)
        ps :+= ((a, b, n))
        ts :+= tokensAfter
      }
      (ps, ts)
    }
    // frame-memo hit on the derivation path above; after a clearMemo
    // that outlived the stamped picks (impossible today — clearMemo
    // drops both — but cheap to stay correct about), the rebuild is a
    // pure map-side replace chain from the stamped picks
    val last = SessionMemo.frame(s, "x94-st3", dir) {
      picks.foldLeft(base) { case (st, (a, b, _)) => mergeRound(st, a, b) }
        .persist()
    }
    (picks, totals, last)
  }

  /** Shared DuckDB twin of [[bpeChain]]: CTEs `r0..r3` (staged corpus
    * per round, carrying lang), `p1..p3` (picks), `t1..t3` (post-round
    * token totals). x94 and x114 both compose over this one chain. */
  private lazy val duckBpeChain: String = {
    def round(r: Int, prev: String) =
      s"""c$r AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS a,
         |          unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS b
         |        FROM (SELECT string_split(trim(st, chr(31)), chr(31) || chr(31)) AS w
         |              FROM $prev) WHERE len(w) >= 2),
         |p$r AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c$r
         |        GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1),
         |r$r AS (SELECT doc_id, lang, replace(st,
         |          chr(31) || a || chr(31) || chr(31) || b || chr(31),
         |          chr(31) || a || ' ' || b || chr(31)) AS st
         |        FROM $prev CROSS JOIN p$r),
         |t$r AS (SELECT CAST(sum(len(string_split(trim(st, chr(31)),
         |          chr(31) || chr(31)))) AS BIGINT) AS tokens_after FROM r$r)""".stripMargin
    // no continuation line may BEGIN with "||": the composed oracles
    // re-run stripMargin over the interpolated chain, and a leading
    // "||" would lose its first pipe to the second margin strip
    s"""r0 AS (SELECT doc_id, lang,
       |    chr(31) || array_to_string(string_split(text, ' '), chr(31) || chr(31)) ||
       |      chr(31) AS st FROM documents),
       |${round(1, "r0")},
       |${round(2, "r1")},
       |${round(3, "r2")}""".stripMargin
  }

  /** x46's chunk segmentation (50-token chunks, 40-token stride) —
    * ONE definition for the registered chunker and x119's
    * duplicated-chunk audit: (doc_id, chunk_id, chunk_tokens,
    * chunk_fp), entirely map-side. */
  private def tokenChunks(docs: DataFrame): DataFrame = {
    val chunk = slice(col("tk"), col("start") + 1, lit(50))
    docs
      .withColumn("tk", Text.tokens(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("tk")) - 1, lit(0)), lit(40))))
      .select(
        col("doc_id"),
        (col("start") / 40).cast("int").as("chunk_id"),
        size(chunk).as("chunk_tokens"),
        md5(concat_ws(" ", chunk)).as("chunk_fp"))
  }

  // ── the queries ─────────────────────────────────────────────────────

  // lazy: the oracle strings interpolate Curation defs (duckPqChain,
  // duckAdcTopK) — building this map during LlmData's own class init
  // would re-enter Curation's init from whichever side started first
  // (see the mirror note on Curation's registries)
  lazy val queries: Map[String, Q] = Map(

    // ── X1a: exact dedup groups by content hash ───────────────────────
    "x20_exact_dedup_groups" -> Q(
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
        .orderBy("fp"),
      Some("""SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS keeper
             |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin),
      "exact dedup: hash-groupBy on content digest; one shuffle on the digest"),

    // ── X1b: dedup survivors via order-insensitive shingle digest ─────
    // contentFingerprint = md5 over the sorted distinct shingle set, so
    // the identity survives whole-block reordering; survivor choice is
    // a deterministic window (never dropDuplicates).
    "x21_exact_dedup_survivors" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("fp").orderBy("doc_id")
        t(s, dir, "documents")
          .withColumn("tk", Text.tokens(col("text")))
          .withColumn("sh", Text.shinglesNative(col("tk")))
          .filter(size(col("sh")) > 0)
          .withColumn("fp", Text.contentFingerprint(col("sh")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "fp", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckShingles,
              |fps AS (SELECT d.doc_id,
              |          md5(array_to_string(list_sort(s.sh), '|')) AS fp,
              |          d.lang, d.n_chars
              |        FROM documents d JOIN shs s USING (doc_id))
              |SELECT doc_id, fp, lang, n_chars FROM (
              |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |  FROM fps) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
      "bag-of-shingles dedup; deterministic first-doc-wins window"),

    // ── X2a: MinHash-LSH near-dup pairs (md5-portable, oracle-exact) ──
    // One md5 per shingle + 16 affine rehashes (one-hash-k-permutation
    // MinHash), 4 bands x 4 rows. Candidates come ONLY from the
    // band-key equality join (shuffle on band key); exact Jaccard then
    // confirms >= 0.8. At 100 TB the bucket join is the whole point:
    // no all-pairs comparison ever happens.
    "x22_minhash_lsh_pairs" -> Q(
      (s, dir) => {
        // Shingles + base hashes are read by multiple join sides inside
        // minhashConfirm; the memoized persist means the md5 pass runs
        // ONCE (the in-query analog of materializing a signature table,
        // which is what this pipeline does at real scale).
        minhashConfirm(s, dir)
          .withColumn("jaccard",
            pround(col("inter") /
              (size(col("sha")) + size(col("shb")) - col("inter")), 6))
          .filter(col("jaccard") >= 0.8)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $duckMinhashCand,
              |j AS (SELECT doc_a, doc_b,
              |        ${duckRound(
                        "len(list_intersect(x.sh, y.sh)) * 1.0 / " +
                          "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))", 6)} AS jaccard
              |      FROM cand
              |      JOIN hsd x ON x.doc_id = doc_a
              |      JOIN hsd y ON y.doc_id = doc_b)
              |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin),
      "MinHash(16, one-hash affine family) + LSH(4x4); bucketed candidate join, exact-Jaccard confirm"),

    // ── X2b: SimHash near-dup pairs (60-bit portable fingerprint) ─────
    // 6 chunks x 10 bits: pairs within hamming <= 5 must share a
    // (position, chunk) key (pigeonhole), so the equality join is
    // complete for the reported distance range — and it is the only
    // pair generator (no all-pairs).
    "x23_simhash_neardup" -> Q(
      (s, dir) => simhashPairs(s, dir)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckSimhashCand
              |SELECT doc_a, doc_b, bit_count(xor(fa, fb)) AS hamming
              |FROM cand WHERE bit_count(xor(fa, fb)) <= 5
              |ORDER BY doc_a, doc_b""".stripMargin),
      "SimHash-60 + 6x10-bit chunk blocking (pigeonhole-complete for hamming<=5)"),

    // ── X2c: near-dup cluster resolution (connected components) ──────
    // Near-duplication is transitive in intent: A~B and B~C must land
    // in ONE cluster or pairwise survivor-picking over-deletes.
    // Large-star/small-star components over the SimHash pair graph
    // (x23's generator): O(log n) rounds regardless of cluster shape —
    // sequentially drifted edits form CHAINS, where plain label
    // propagation needs diameter-many shuffles (both implementations
    // live in Components and are cross-checked in ComponentsSpec).
    // Survivor = the cluster's min doc_id. Oracle: DuckDB recursive-
    // CTE transitive closure over the identical pair SQL.
    "x36_neardup_components" -> Q(
      (s, dir) => simhashComponents(s, dir)
        .select(col("node").as("doc_id"), col("component"),
          (col("node") === col("component")).as("is_survivor"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $duckSimhashCand,
              |$duckComponents
              |SELECT doc_id, component, doc_id = component AS is_survivor
              |FROM comp ORDER BY doc_id""".stripMargin),
      "dedup clusters: min-label-propagation components over the near-dup pair graph; min-id survivor"),

    // ── X3a: brute-force top-k cosine (exact baseline) ────────────────
    // Query vector = vec_id 0, broadcast as a single row; scoring is a
    // map-side fold; orderBy+limit plans TakeOrderedAndProject (per-
    // partition heap — the scan never globally sorts).
    "x24_topk_cosine" -> Q(
      (s, dir) => annExactTopK(s, dir, 10),
      Some(duckExactTopK(10)),
      "exact ANN baseline: broadcast query vector + TakeOrderedAndProject top-k"),

    // ── X3b: LSH-bucketed ANN (sign-hyperplane buckets, scale path) ───
    // Bucket key = sign bits of the first 6 dims; only the query's
    // bucket is scored. Approximate by construction (recall < 1); the
    // oracle replicates the identical pipeline, so the check is exact.
    "x25_ann_sign_lsh" -> Q(
      (s, dir) => annLshTopK(s, dir, 5),
      Some(duckLshTopK(5)),
      "sign-LSH bucketed ANN: equality join on bucket key, no all-pairs scan"),

    // ── X4a: per-language corpus statistics ───────────────────────────
    "x26_text_stats" -> Q(
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("total_tokens"),
          sum("n_chars").as("total_chars"),
          pround(sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
          // exact interpolated median (Spark percentile == DuckDB
          // quantile_cont: sort + linear interpolation on the same
          // integers — deterministic, unlike the approx sketches)
          percentile(col("n_chars"), lit(0.5)).as("median_chars"),
          countDistinct("source").as("n_sources"))
        .orderBy("lang"),
      // CAST(sum() AS BIGINT): DuckDB widens integer sums to HUGEINT
      // (INT128), which fails the driver's type-sensitive hash gate
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
              |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
              |  ${duckRound("sum(n_chars) * 1.0 / count(*)", 4)} AS avg_chars,
              |  quantile_cont(n_chars, 0.5) AS median_chars,
              |  count(DISTINCT source) AS n_sources
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "per-lang token/char stats; integer sums are order-independent, avg is one division"),

    // ── X4b: per-document quality scoring ─────────────────────────────
    // Length/stopword heuristics only — rational arithmetic written
    // identically on both engines (no transcendentals: libm vs JDK log
    // can differ in the last ulp).
    "x27_quality_score" -> Q(
      // sort FIRST, score AFTER (the q20 lesson, applied family-wide in
      // r13): a global sort above a map-side projection executes the
      // projection twice (range-sampling pass + real pass) at scan-stage
      // parallelism; sorting the RAW rows keeps the tokenize+ratio
      // projection single-pass above the exchange. Output multiset and
      // ordering identical (plan-audited with x42/q10 in PlanAuditSpec).
      (s, dir) => qualityOf(t(s, dir, "documents").orderBy("doc_id")),
      Some(s"""SELECT doc_id,
              |  $duckNTok AS n_tokens,
              |  ${duckRound(s"$duckNStop * 1.0 / $duckNTok", 6)} AS stop_ratio,
              |  ${duckRound(s"(n_chars - ($duckNTok - 1)) * 1.0 / $duckNTok", 4)} AS avg_token_len,
              |  $duckQuality AS quality
              |FROM documents ORDER BY doc_id""".stripMargin),
      "stopword/length quality heuristics; pure rational arithmetic for oracle parity"),

    // ── X4c: language-ID heuristic (stopword-hit rate) ────────────────
    "x28_langid_heuristic" -> Q(
      (s, dir) => {
        val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
        val ratio = size(filter(col("tk"), tk => tk.isin(stops: _*)))
          .cast("double") / size(col("tk"))
        t(s, dir, "documents")
          .withColumn("tk", Text.tokens(col("text")))
          .withColumn("pred_lang", when(ratio >= 0.08, "en").otherwise("other"))
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang")
      },
      Some("""SELECT lang,
             |  CASE WHEN len(list_filter(string_split(text, ' '),
             |      tk -> list_contains(['the','a','of','and','to','in','is','on'], tk))) * 1.0
             |    / len(string_split(text, ' ')) >= 0.08
             |  THEN 'en' ELSE 'other' END AS pred_lang,
             |  count(*) AS n
             |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin),
      "n-gram-free language-ID heuristic; confusion counts vs the labeled lang"),

    // ── X4d: token counting — whitespace + regex token classes ────────
    "x29_token_regex" -> Q(
      // sort first, regex after (q20 lesson — see x27)
      (s, dir) => t(s, dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_other")),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_ws_tokens,
             |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
             |  len(regexp_extract_all(text, '[0-9]+')) AS n_num,
             |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_other
             |FROM documents ORDER BY doc_id""".stripMargin),
      "whitespace + BPE-ish regex token-class counts (ASCII classes, dialect-portable)"),

    // ── X4e: order-sensitive document fingerprint (rolling hash) ──────
    // Polynomial rolling hash mod 2^40 over per-token md5 hashes: a
    // sequential left fold, so DuckDB's list_reduce (seeded via
    // list_prepend) computes the identical value and the query is
    // fully oracle-checked. The xxhash64 rotate-XOR fast path
    // (Text.rollingHash) keeps the same shape; unit tests cover it.
    // Rides the family's one token staging (tokStaged): the whole-
    // registry sf1 pass measured this query's 9.4× warm slope as
    // almost entirely the per-query re-tokenize.
    "x30_fingerprint_rolling" -> Q(
      // sort first, fold after (q20 lesson — see x27)
      (s, dir) => tokStaged(s, dir)
        .select("doc_id", "tk")
        .orderBy("doc_id")
        .select(col("doc_id"),
          Text.rollingHashPortable(col("tk")).as("fp")),
      Some(s"""SELECT doc_id,
              |  list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(string_split(text, ' '),
              |      t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % ${Text.RollingMod})),
              |    (acc, h) -> (acc * 31 + h) % ${Text.RollingMod}) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin),
      "order-sensitive polynomial rolling fingerprint; left fold == DuckDB list_reduce"),

    // ── X3d: IVF ANN — TRAINED coarse quantizer + multi-probe ─────────
    // The inverted-file shape (PAPERS.md: REPOSE, ICDE'21 — inverted
    // lists from a coarse quantizer, probe a few lists): K=16 centroids
    // seeded from the first K embeddings, then refined by two Lloyd's
    // iterations. Each iteration is (a) a MAP-SIDE nearest-centroid
    // argmax over the centroid literal — no join, no shuffle, no N×K
    // blowup — and (b) one partial-aggregated groupBy(cid, dim) whose
    // result is K×dim rows, COLLECTED to the driver and baked into the
    // next round's literal. Every driver-side step is bounded by K×dim
    // (16×64), never by data — the same legitimacy class as
    // broadcasting a dim table. Means use the micro-units trick
    // (floor(v·1e6 + 0.5) summed as integers, one division at the end)
    // so they are accumulation-order-independent and the DuckDB oracle
    // — which replays the identical two rounds relationally — matches
    // exactly; empty clusters keep their previous centroid on both
    // sides. The query probes its nprobe=2 nearest lists (exploded to
    // probe rows, so the fan-in stays a broadcast EQUALITY join);
    // approximate by construction, recall measured against exact top-k
    // in x35.
    "x34_ann_ivf" -> Q(
      (s, dir) => annIvfTopK(s, dir, 5),
      Some(s"WITH $duckIvfChain\n${duckIvfTopK(5)}"),
      "IVF ANN: k-means-trained literal quantizer (2 Lloyd's rounds, micro-unit means), map-side list assignment, nprobe=2 multi-probe"),

    // ── X3e: ANN recall audit — approximate methods vs exact top-k ────
    // Turns "recall < 1 by construction" into a measured number: for
    // each approximate method (sign-LSH x25, trained IVF x34), how many
    // of the exact top-5 (x24's pipeline at k=5) does it return?
    // Deterministic end to end (the same shared pipelines the
    // registered queries use — see the shared-ANN section — joined on
    // vec_id and counted), so the oracle check is exact, not
    // statistical. A pipeline user tunes nprobe / bucket bits against
    // exactly this query.
    "x35_ann_recall" -> Q(
      (s, dir) => {
        val exact = exactTop5Ids(s, dir)
        def recallOf(approx: DataFrame, method: String): DataFrame =
          recallRow(exact, approx, method, 5)
        recallOf(annLshTopK(s, dir, 5), "sign_lsh")
          .unionByName(recallOf(annLshMultiProbeTopK(s, dir, 5), "sign_lsh_mp"))
          .unionByName(recallOf(annIvfTopK(s, dir, 5), "ivf"))
          // ADC is the method whose approximation error is largest by
          // construction (4-byte codes) — the one a user most needs a
          // recall number for; same shared-pipeline discipline
          // (Curation.adcTopK IS x67's pipeline). The rerank arm
          // measures the production two-stage form (x73) against the
          // same baseline — the R dial's effect is THIS delta.
          .unionByName(recallOf(Curation.adcTopK(s, dir, 5), "pq_adc"))
          .unionByName(recallOf(Curation.adcRerankTopK(s, dir, 5), "pq_adc_rerank"))
          .orderBy("method")
      },
      Some(s"""WITH $duckIvfChain,
              |${Curation.duckPqChain},
              |exact5 AS (SELECT vec_id FROM (${duckExactTopK(5)})),
              |lsh5 AS (${duckLshTopK(5)}),
              |mp5 AS (${duckLshMultiProbeTopK(5)}),
              |ivf5 AS (${duckIvfTopK(5)}),
              |adc5 AS (${Curation.duckAdcTopK(5)}),
              |rr5 AS (${Curation.duckAdcRerankTopK(5)}),
              |r AS (
              |  SELECT 'sign_lsh' AS method, 5 AS k, count(*) AS hits
              |  FROM lsh5 JOIN exact5 USING (vec_id)
              |  UNION ALL
              |  SELECT 'sign_lsh_mp' AS method, 5 AS k, count(*) AS hits
              |  FROM mp5 JOIN exact5 USING (vec_id)
              |  UNION ALL
              |  SELECT 'ivf' AS method, 5 AS k, count(*) AS hits
              |  FROM ivf5 JOIN exact5 USING (vec_id)
              |  UNION ALL
              |  SELECT 'pq_adc' AS method, 5 AS k, count(*) AS hits
              |  FROM adc5 JOIN exact5 USING (vec_id)
              |  UNION ALL
              |  SELECT 'pq_adc_rerank' AS method, 5 AS k, count(*) AS hits
              |  FROM rr5 JOIN exact5 USING (vec_id))
              |SELECT method, k, hits,
              |  ${duckRound("hits * 1.0 / 5.0", 6)} AS recall
              |FROM r ORDER BY method""".stripMargin),
      "ANN recall@5 audit: all four approximate methods (sign-LSH, multi-probe, IVF, PQ/ADC) vs the exact top-k; fully deterministic"),

    // ── X3g: multi-probe sign-LSH ANN (the recall lever) ──────────────
    // Same bucketed retrieval as x25 with a 7-bucket hamming-1 probe
    // set (see annLshMultiProbeTopK); x35 quantifies the recall gain
    // over single-probe. Probe explosion happens on the single-row
    // query side only — corpus-side plan is unchanged.
    "x51_ann_multiprobe" -> Q(
      (s, dir) => annLshMultiProbeTopK(s, dir, 5),
      Some(duckLshMultiProbeTopK(5)),
      "multi-probe sign-LSH: hamming-1 probe set on the broadcast query side"),

    // ── X3c: embedding-cosine near-dup — bucketed pair ranking ────────
    // Sign-LSH self-join (equality on the 6-bit bucket key — the pair
    // generator is never all-pairs), exact cosine inside the bucket,
    // top-3 most-similar pairs per bucket via a ranking window. The
    // testdata has no true near-dup vectors (max pairwise cosine
    // ~0.51), so the per-bucket ranking keeps the operator's output
    // meaningful and bounded instead of empty-by-threshold.
    "x32_embed_neardup" -> Q(
      (s, dir) => {
        // corpus-width bucket key (signBitsFor): the self-join's
        // in-bucket pair count stays constant per bucket as N grows —
        // the same dial knnEdges rides; at every spec SF it evaluates
        // to the historical 6 bits, oracle hashes unchanged
        val e = t(s, dir, "embeddings")
          .withColumn("bk",
            Vectors.signKey(col("embedding"), corpusSignBits(s, dir)))
        val pairs = cosinePairs(e, "bk")
        val w = Window.partitionBy("bk")
          .orderBy(desc("cos"), asc("va"), asc("vb"))
        pairs.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("bk"), col("rnk"), col("va"), col("vb"), col("cos"))
          .orderBy("bk", "rnk")
      },
      Some(s"""WITH $duckSignBitsCte,
              |k AS (SELECT vec_id, embedding, ${duckSignKeyN("embedding")} AS bk
              |      FROM embeddings CROSS JOIN sb),
              |p AS (SELECT a.bk, a.vec_id AS va, b.vec_id AS vb,
              |        ${duckRound(duckCosine("a.embedding", "b.embedding"), 6)} AS cos
              |      FROM k a JOIN k b ON a.bk = b.bk AND a.vec_id < b.vec_id)
              |SELECT bk, rnk, va, vb, cos FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY bk ORDER BY cos DESC, va, vb) AS rnk FROM p)
              |WHERE rnk <= 3 ORDER BY bk, rnk""".stripMargin),
      "embedding near-dup: sign-LSH bucketed self-join on the corpus-width key + per-bucket pair ranking"),

    // ── X3f: SemDeDup — semantic dedup inside trained k-means clusters ─
    // Abbas et al. 2023 (SemDeDup): embedding near-dup where the pair
    // generator is the TRAINED coarse quantizer's cluster assignment
    // (the same two-Lloyd's-iteration quantizer x34 probes), never
    // all-pairs — and K GROWS WITH THE CORPUS (corpusK: K =
    // max(16, N/125)), so expected cluster size — and with it the
    // per-cluster pair cost — stays constant as N scales: total pairs
    // ~N×125, linear, where any fixed K is N²/K (the r8 slope table's
    // one super-linear row, 18.3× at 10× data, now dialed away). The
    // clusters partition the pairwise stage perfectly (one shuffle on
    // cid). Per cluster: member count,
    // the most-similar pair (the dedup frontier a threshold would cut
    // first), and how many pairs exceed the dedup threshold 0.9 — the
    // testdata has no true semantic dups (max pairwise cosine ~0.51,
    // see x32), so n_dup = 0 here and the frontier pair is the
    // operationally meaningful output. Oracle replays the identical
    // training via duckIvfChainKN — same CTEs, seed width from the
    // same greatest(16, N/125) rule, so the dial is oracle-checked,
    // not just asserted.
    "x48_semdedup_clusters" -> Q(
      (s, dir) => {
        // the assignment table (embedding + cid) is read by both the
        // size count and both pair sides — persist it once, exactly
        // what a real pipeline materializes after training
        // the dispatcher keeps small-K corpora on the codegen'd literal
        // argmax and routes corpusK > LiteralKMax to the distributed
        // Lloyd's (join-based, no driver collect) — the two are
        // bit-equal, so K growing with the corpus switches plans, not
        // answers
        val asg = SessionMemo.frame(s, "x48-asg", dir) {
          assignedByTrainedQuantizer(s, dir, corpusK(s, dir)).persist()
        }
        val sizes = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
        // frontier pair + over-threshold count in ONE pass over the
        // pair table: both windows share the cid partitioning, so the
        // quadratic-per-cluster cosine projection runs once
        val w = Window.partitionBy("cid").orderBy(desc("cos"), asc("va"), asc("vb"))
        val agg = cosinePairs(asg, "cid")
          .withColumn("rnk", row_number().over(w))
          .withColumn("n_dup", sum(when(col("cos") >= 0.9, 1L).otherwise(0L))
            .over(Window.partitionBy("cid")))
          .filter(col("rnk") === 1)
          .select(col("cid"), col("va").as("top_va"), col("vb").as("top_vb"),
            col("cos").as("top_cos"), col("n_dup"))
        sizes.join(agg, Seq("cid"), "left")
          .select(col("cid"), col("n_members"), col("top_va"), col("top_vb"),
            col("top_cos"), coalesce(col("n_dup"), lit(0L)).as("n_dup"))
          .orderBy("cid")
      },
      Some(s"""WITH $duckIvfChainKN,
              |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
              |       FROM asg GROUP BY cid),
              |p AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
              |        ${duckRound(duckCosine("a.embedding", "b.embedding"), 6)} AS cos
              |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id),
              |tp AS (SELECT cid, va AS top_va, vb AS top_vb, cos AS top_cos FROM (
              |         SELECT *, row_number() OVER (
              |           PARTITION BY cid ORDER BY cos DESC, va, vb) AS rn FROM p)
              |       WHERE rn = 1),
              |d AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dup
              |      FROM p WHERE cos >= 0.9 GROUP BY cid)
              |SELECT sz.cid, sz.n_members, tp.top_va, tp.top_vb, tp.top_cos,
              |  coalesce(d.n_dup, CAST(0 AS BIGINT)) AS n_dup
              |FROM sz LEFT JOIN tp USING (cid) LEFT JOIN d USING (cid)
              |ORDER BY sz.cid""".stripMargin),
      "SemDeDup: pairwise cosine scoped to trained quantizer clusters; one shuffle on cid"),

    // ── Sketch: HLL++ approximate distinct counts ─────────────────────
    // The sketch path for cardinality at 100 TB: fixed-size HLL state
    // merges map-side, so the shuffle carries sketches, not values.
    // ORACLE-CHECKED since r16 (the r15 verdict's #7 — this was the
    // registry's only rows-only row): DuckDB's HLL construction
    // differs, so the estimate itself can never hash-match — instead
    // the row publishes the EXACT distincts (hash-checked) with the
    // sketch as an ERROR-BOUNDED output: a boolean per sketch column
    // asserting |est/exact − 1| ≤ 5% (rsd 2% ⇒ ±6% at 3σ; Spark's
    // HLL++ is deterministic, so the booleans are stable), which the
    // oracle replays as TRUE. An HLL drift outside the bound now
    // FAILS the hash compare — the sketch is inside the correctness
    // gate, not beside it. The exact distincts make this the sketch
    // ACCURACY AUDIT (the x35 recall-audit shape for cardinality);
    // the pure-sketch scale path — no distinct shuffle at all — is
    // what production uses and SketchSpec continues to bound.
    "x33_hll_distinct" -> Q(
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          countDistinct(col("text")).as("n_texts"),
          countDistinct(col("source")).as("n_sources"),
          approx_count_distinct(col("text"), rsd = 0.02).as("at"),
          approx_count_distinct(col("source"), rsd = 0.02).as("asrc"),
          count(lit(1)).as("n"))
        .select(col("lang"), col("n_texts"), col("n_sources"),
          (abs(col("at") - col("n_texts")) <=
            col("n_texts").cast("double") * 0.05).as("texts_within_bound"),
          (abs(col("asrc") - col("n_sources")) <=
            col("n_sources").cast("double") * 0.05).as("sources_within_bound"),
          col("n"))
        .orderBy("lang"),
      Some("""SELECT lang, count(DISTINCT text) AS n_texts,
             |  count(DISTINCT source) AS n_sources,
             |  TRUE AS texts_within_bound, TRUE AS sources_within_bound,
             |  count(*) AS n
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "HLL++ sketch accuracy audit: exact distincts hash-checked, the sketch an error-bounded output — drift outside 5% fails the oracle"),

    // ── X5: multimodal bundling — text + embedding in one row ─────────
    // Join on doc_id = vec_id, bundle typed struct columns, project
    // scalar features back out (parquet-dump-friendly flat output).
    "x31_multimodal_bundle" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents")
        val e = t(s, dir, "embeddings")
        d.join(e, d("doc_id") === e("vec_id"))
          .select(
            struct(d("doc_id"), d("lang"), d("n_chars")).as("doc"),
            struct(e("embedding"), e("label")).as("vec"))
          .select(
            col("doc.doc_id").as("doc_id"),
            col("doc.lang").as("lang"),
            col("doc.n_chars").as("n_chars"),
            col("vec.label").as("label"),
            size(col("vec.embedding")).as("dim"),
            pround(Vectors.normDecl(col("vec.embedding")), 6).as("emb_norm"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, n_chars, label,
              |  len(embedding) AS dim,
              |  ${duckRound(s"sqrt(${duckDot("embedding", "embedding")})", 6)} AS emb_norm
              |FROM documents JOIN embeddings ON doc_id = vec_id
              |ORDER BY doc_id""".stripMargin),
      "doc ⋈ embedding struct bundling; scalar features projected for the oracle"),

    // ── X5b: media payload two-tier dedup manifest (x117) ─────────────
    // The multimodal family's dedup leg: binary assets dedup by
    // content hash in two tiers — a cheap HEADER fingerprint (md5 of
    // the first 64 chars of payload) prescreens candidates, the full
    // payload hash confirms — the same band-then-confirm shape as
    // x101's index probe, applied to opaque media bytes (real
    // pipelines prescreen on headers/thumbnails before full-byte
    // compare; content-addressable stores dedup on the confirm tier).
    // The synthetic media table is Multimodal.synthesize's
    // deterministic derivation (payload = utf-8 of text, modality =
    // doc_id mod 3) so the oracle replays it exactly; the corpus's
    // planted near-dup prefixes make the prescreen tier non-degenerate
    // while the confirm tier honestly reports zero full-payload dups.
    // Map-side hashing, one modality-keyed aggregate.
    "x117_media_header_dedup" -> Q(
      (s, dir) => {
        val media = Multimodal.synthesize(t(s, dir, "documents"))
        media.select(col("media_type"),
            md5(substring(col("content").cast("string"), 1, 64)).as("hfp"),
            md5(col("content")).as("pfp"),
            length(col("content")).cast("long").as("nb"))
          .groupBy("media_type")
          .agg(count(lit(1)).as("n_assets"),
            countDistinct("hfp").as("n_headers"),
            countDistinct("pfp").as("n_payloads"),
            sum("nb").as("total_bytes"),
            max("nb").as("max_bytes"))
          .select(col("media_type"), col("n_assets"),
            (col("n_assets") - col("n_headers")).as("header_dup_assets"),
            (col("n_assets") - col("n_payloads")).as("payload_dup_assets"),
            col("total_bytes"), col("max_bytes"))
          .orderBy("media_type")
      },
      Some("""WITH m AS (SELECT
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |      WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             |    md5(substr(text, 1, 64)) AS hfp,
             |    md5(text) AS pfp,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
             |  FROM documents)
             |SELECT media_type, count(*) AS n_assets,
             |  count(*) - count(DISTINCT hfp) AS header_dup_assets,
             |  count(*) - count(DISTINCT pfp) AS payload_dup_assets,
             |  CAST(sum(nb) AS BIGINT) AS total_bytes,
             |  CAST(max(nb) AS BIGINT) AS max_bytes
             |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin),
      "binary-asset two-tier dedup manifest: header-fingerprint prescreen + full-payload confirm (the x101 band-then-confirm shape on media bytes), map-side hashing, modality-keyed aggregate"),

    // ── X6a: stratified mixture sampling (deterministic hash-mod) ─────
    // Data-mixture reweighting: each stratum (lang) gets its own keep
    // rate, membership decided by a content-free hash of the stable
    // doc_id — reproducible across runs/engines, no RNG state. The
    // sample predicate is a MAP-SIDE filter (zero shuffle of payloads);
    // the only shuffle is the tiny per-stratum audit aggregate. Rates
    // are a literal CASE here; at real scale they'd broadcast-join from
    // a mixture-config dim table — same plan shape.
    "x37_stratified_sample" -> Q(
      (s, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 100
        val rate = when(col("lang") === "en", 50).otherwise(20)
        t(s, dir, "documents")
          .withColumn("sampled", bucket < rate)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("sampled"), lit(1))).as("n_sampled"),
            pround(count(when(col("sampled"), lit(1))).cast("double") / count(lit(1)), 4)
              .as("rate_achieved"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  count(*) FILTER (WHERE
              |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
              |      < CASE WHEN lang = 'en' THEN 50 ELSE 20 END) AS n_sampled,
              |  ${duckRound(
                   "count(*) FILTER (WHERE " +
                     "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 " +
                     "< CASE WHEN lang = 'en' THEN 50 ELSE 20 END) * 1.0 / count(*)", 4)}
              |    AS rate_achieved
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "per-stratum mixture sampling: deterministic id-hash buckets, map-side keep predicate"),

    // ── X6b: sequence packing into token-budget bins ──────────────────
    // Context-window packing: within each source shard, documents are
    // laid out in doc_id order and assigned to the bin their starting
    // token offset falls in (budget 2048). The running sum is windowed
    // PER SOURCE — shards pack independently and in parallel, which is
    // exactly how a 100 TB corpus is packed (per input shard), never a
    // global sequential scan. Output is the bounded per-bin manifest.
    "x38_sequence_packing" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("cum", sum("n_tokens").over(w))
          .withColumn("bin", floor((col("cum") - col("n_tokens")) / lit(2048)))
          .groupBy("source", "bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("bin_tokens"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("source", "bin")
      },
      Some("""WITH p AS (
             |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
             |    sum(len(string_split(text, ' '))) OVER (
             |      PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM documents)
             |SELECT source, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
             |  count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM p GROUP BY 1, 2 ORDER BY source, bin""".stripMargin),
      "token-budget sequence packing: per-shard windowed offsets, parallel across shards"),

    // ── X6c: benchmark decontamination (shingle-overlap flagging) ─────
    // Eval-set contamination check: a corpus document is flagged when
    // it shares ANY 3-shingle with the benchmark set (stand-in: every
    // 50th doc). The benchmark's distinct shingle set is small by
    // construction (eval sets are), so it BROADCASTS and the corpus
    // side never shuffles — the flag is decided in the scan stage.
    "x39_decontamination" -> Q(
      (s, dir) => {
        val (bench, corpus) = decontamSides(s, dir)
        decontamReport(broadcast(bench), corpus)
      },
      Some(duckDecontam),
      "decontamination: broadcast benchmark shingle set, corpus flagged map-side"),

    // ── X6c'': contamination attribution by source (x118) ─────────────
    // The procurement-facing view of x39: WHICH providers ship
    // contaminated data. Same flag definition (the shared decontam
    // sides + confirm join — x118 cannot disagree with x39 about what
    // is contaminated), rolled up per source with the flagged share in
    // exact micro-units — the audit that decides whether a source gets
    // a stricter intake gate (the x99 waterfall attributes REMOVALS to
    // rules; this attributes CONTAMINATION to suppliers). One extra
    // doc-keyed left join + a domain-sized aggregate over x39's plan.
    "x118_contam_by_source" -> Q(
      (s, dir) => {
        val (bench, corpus) = decontamSides(s, dir)
        val flagged = decontamReport(broadcast(bench), corpus)
        t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
          .select("doc_id", "source")
          .join(flagged, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_shared")).as("flagged_docs"),
            sum(coalesce(col("n_shared"), lit(0L))).as("shared_shingles"))
          .withColumn("flagged_micro", expr(
            "CAST(CAST(flagged_docs AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"))
          .orderBy("source")
      },
      Some(s"""WITH $duckShingles,
              |$duckDecontamSides,
              |fl AS (SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
              |       FROM corpus c JOIN bench b ON c.s = b.s GROUP BY 1),
              |d AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0)
              |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(fl.n_shared) AS BIGINT) AS flagged_docs,
              |  CAST(coalesce(sum(fl.n_shared), 0) AS BIGINT) AS shared_shingles,
              |  CAST(CAST(count(fl.n_shared) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
              |    AS flagged_micro
              |FROM d LEFT JOIN fl USING (doc_id)
              |GROUP BY d.source ORDER BY d.source""".stripMargin),
      "contamination attribution by supplier: x39's exact flag definition rolled up per source with micro-unit flagged shares — one extra doc-keyed join, domain-sized output"),

    // ── X6c': bloom-prefiltered decontamination (x39's 100 TB form) ───
    // x39 broadcasts the benchmark shingle set as a hash relation —
    // right while eval sets stay small. At corpus scale the benchmark
    // union grows to ~10^9 shingles: tens of GiB as a hash relation
    // (unbroadcastable → the corpus side must SHUFFLE trillions of
    // (doc_id, shingle) pairs into a sort-merge join). This form keeps
    // the big join but plants the benchmark's BLOOM (bytes, always
    // broadcastable) as a map-side prefilter in the corpus scan stage,
    // so the shuffle carries only true matches + the fpp share —
    // exactly the dataflow Spark's own InjectRuntimeFilter plants for
    // shuffle joins, made explicit and sized by the eval set. The
    // answer is EXACT: blooms have no false negatives, and the confirm
    // join removes false positives — so x79 shares x39's oracle
    // verbatim, and LlmInvariantsSpec pins row equality plus the
    // false-positive path with a deliberately undersized filter.
    // Driver state is the filter's bytes (bounded by eval-set sizing,
    // the same bound class as the trained-quantizer collects).
    "x79_decontam_bloom" -> Q(
      (s, dir) => {
        val (bench, corpus) = decontamSides(s, dir)
        val bf = decontamBloomFor(s, dir)
        val pre =
          if (bf == null) corpus // empty benchmark: confirm join is empty anyway
          else corpus.filter(call_function("graft_might_contain",
            lit(bf), xxhash64(col("s"))))
        decontamReport(bench, pre)
      },
      Some(duckDecontam),
      "bloom-prefiltered decontamination: map-side might_contain cuts the join input; exact confirm join — same answer as x39"),

    // ── X6d: TF-IDF-style salient terms per language ──────────────────
    // Termhood score = tf / df (corpus-spread penalty) kept rational —
    // no log(), so the oracle matches bit-for-bit. Two hash aggregates
    // (per-doc distinct for df, per-lang counts for tf) + a broadcast-
    // friendly join on term; ranking is a bounded per-lang window.
    "x40_tfidf_terms" -> Q(
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("term"))
        val dfreq = tok.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val tfreq = tok.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy("lang")
          .orderBy(desc("score"), desc("tf"), asc("term"))
        tfreq.join(dfreq, "term")
          .withColumn("score", pround(col("tf").cast("double") / col("df"), 6))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select("lang", "rnk", "term", "tf", "df", "score")
          .orderBy("lang", "rnk")
      },
      Some(s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
              |            FROM documents),
              |dfreq AS (SELECT term, count(*) AS df
              |          FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
              |tfreq AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term),
              |sc AS (SELECT lang, term, tf, df,
              |         ${duckRound("tf * 1.0 / df", 6)} AS score
              |       FROM tfreq JOIN dfreq USING (term))
              |SELECT lang, rnk, term, tf, df, score FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY lang ORDER BY score DESC, tf DESC, term) AS rnk FROM sc)
              |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),
      "salient-term extraction: rational tf/df termhood, per-lang top-5 ranking window"),

    // ── X6e: fixed-size holdout draw per stratum ──────────────────────
    // Eval-holdout selection: exactly k docs per lang, drawn by ranking
    // a content-free md5(doc_id) — deterministic, seedless, and
    // independent of corpus order. The rank-filter is planned as
    // WindowGroupLimit (per-partition top-k BEFORE the stratum
    // shuffle, Spark ≥3.5), so the full corpus is never sorted — the
    // same physical shape as TakeOrderedAndProject, per group.
    "x41_holdout_draw" -> Q(
      (s, dir) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long")
        val w = Window.partitionBy("lang").orderBy("h", "doc_id")
        t(s, dir, "documents")
          .withColumn("h", h)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("lang", "rn", "doc_id")
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, rn, doc_id FROM (
             |  SELECT lang, doc_id, row_number() OVER (
             |    PARTITION BY lang
             |    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
             |             doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),
      "per-stratum eval holdout: hash-ranked exact-k draw, WindowGroupLimit top-k shape"),

    // ── X6f: PII detection + redaction scrub ──────────────────────────
    // The scrub stage every released corpus passes through: detect,
    // count, and replace identifier-shaped spans, all narrow map-side
    // ops. The synthetic corpus contains no PII, so the query SEEDS a
    // deterministic contact string from doc_id first (explicitly — the
    // op under test is the scrub, not the corpus); patterns stay in the
    // POSIX-safe intersection of Java regex and RE2 so both engines
    // match identical spans.
    "x42_pii_scrub" -> Q(
      // sort first, scrub after (q20 lesson — see x27). Measured at
      // sf3: registered project-then-sort 22.7 s warm, projection alone
      // 7.4 s (the 2× sampling re-execution at scan-stage parallelism),
      // sort-then-project 1.6 s — the regex runs ONCE, 32-way, above
      // the exchange.
      (s, dir) => {
        val seeded = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad(col("doc_id").cast("string"), 4, "0"))
        val email = "[a-z0-9.]+@[a-z0-9.]+"
        val phone = "\\+[0-9]+-[0-9]+-[0-9]+"
        t(s, dir, "documents")
          .select("doc_id", "text")
          .orderBy("doc_id")
          .withColumn("seeded", seeded)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("seeded"), lit(email), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("seeded"), lit(phone), lit(0))).as("n_phones"),
            md5(regexp_replace(regexp_replace(col("seeded"), email, "<EMAIL>"),
              phone, "<PHONE>")).as("redacted_fp"),
            length(col("seeded")).as("len_before"),
            length(regexp_replace(regexp_replace(col("seeded"), email, "<EMAIL>"),
              phone, "<PHONE>")).as("len_after"))
      },
      Some("""WITH seeded AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@example.com or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS s
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(s, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
             |  len(regexp_extract_all(s, '\+[0-9]+-[0-9]+-[0-9]+')) AS n_phones,
             |  md5(regexp_replace(regexp_replace(s, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             |    '\+[0-9]+-[0-9]+-[0-9]+', '<PHONE>', 'g')) AS redacted_fp,
             |  length(s) AS len_before,
             |  length(regexp_replace(regexp_replace(s, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             |    '\+[0-9]+-[0-9]+-[0-9]+', '<PHONE>', 'g')) AS len_after
             |FROM seeded ORDER BY doc_id""".stripMargin),
      "PII scrub: span detect/count/replace, narrow map-side ops, engine-portable regex"),

    // ── X6g: intra-document repetition scoring (Gopher-style) ─────────
    // Repetition quality rule: the fraction of a doc's 3-shingle
    // OCCURRENCES that are duplicates of an earlier one — word-salad
    // and boilerplate score high and get filtered before training.
    // distinct count comes from the same shingle kernel the dedup
    // family uses; occurrence count is just len(tokens) - 2.
    "x43_repetition_score" -> Q(
      (s, dir) => {
        val total3 = greatest(size(col("tk")) - 2, lit(0))
        val distinct3 = when(size(col("tk")) >= 3,
          size(Text.shinglesNative(col("tk")))).otherwise(lit(0))
        // sort first, shingle after (q20 lesson — see x27)
        tokStaged(s, dir)
          .select("doc_id", "tk")
          .orderBy("doc_id")
          .select(
            col("doc_id"),
            total3.as("n_shingles"),
            distinct3.as("n_distinct"),
            when(total3 > 0,
              pround(lit(1.0) - distinct3.cast("double") / total3, 6))
              .otherwise(lit(0.0)).as("repetition"),
            (when(total3 > 0,
              pround(lit(1.0) - distinct3.cast("double") / total3, 6))
              .otherwise(lit(0.0)) > 0.2).as("flagged"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |m AS (SELECT doc_id,
              |        greatest(len(w) - 2, 0) AS n_shingles,
              |        CASE WHEN len(w) >= 3 THEN len(list_distinct(
              |          list_transform(range(1, len(w) - 1),
              |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) ELSE 0 END AS n_distinct
              |      FROM toks)
              |SELECT doc_id, n_shingles, n_distinct,
              |  CASE WHEN n_shingles > 0
              |    THEN ${duckRound("1.0 - n_distinct * 1.0 / n_shingles", 6)}
              |    ELSE 0.0 END AS repetition,
              |  (CASE WHEN n_shingles > 0
              |    THEN ${duckRound("1.0 - n_distinct * 1.0 / n_shingles", 6)}
              |    ELSE 0.0 END) > 0.2 AS flagged
              |FROM m ORDER BY doc_id""".stripMargin),
      "Gopher-style repetition rule: duplicate-shingle occurrence fraction, map-side only"),

    // ── X6h: corpus version diff (release-over-release accounting) ────
    // Dataset-release hygiene: what changed between corpus v1 and v2 —
    // added / deleted / modified / unchanged, decided by a FULL OUTER
    // join on the stable doc_id with content fingerprints compared
    // where both sides exist. v2 is derived deterministically from v1
    // in-query (every 7th doc deleted, every 11th edited, every 13th
    // re-added under a new id) so the oracle replays the identical
    // diff. One shuffle on the join key; the status rollup is bounded.
    // Re-added ids are negated (-(id+1)) rather than offset by a
    // constant: an additive offset collides with real doc_ids once the
    // corpus id range reaches it (1e6 at larger SF), silently fanning
    // out the join identically in both engines; negation is disjoint
    // from any non-negative id at every scale.
    "x44_corpus_diff" -> Q(
      (s, dir) => {
        val v1 = t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("fp"))
        val d = t(s, dir, "documents")
        val v2 = d.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("fp"))
          .unionByName(d.filter(col("doc_id") % 13 === 0)
            .select((-(col("doc_id") + 1L)).as("doc_id"), md5(col("text")).as("fp")))
        val status = when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "deleted")
          .when(col("a.fp") === col("b.fp"), "unchanged")
          .otherwise("modified")
        v1.as("a").join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
          .select(status.as("status"),
            coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("status")
      },
      Some("""WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |v2 AS (SELECT doc_id,
             |         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS fp
             |       FROM documents WHERE doc_id % 7 <> 0
             |       UNION ALL
             |       SELECT -(doc_id + 1), md5(text) FROM documents WHERE doc_id % 13 = 0),
             |j AS (SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
             |               WHEN b.doc_id IS NULL THEN 'deleted'
             |               WHEN a.fp = b.fp THEN 'unchanged'
             |               ELSE 'modified' END AS status,
             |             coalesce(a.doc_id, b.doc_id) AS doc_id
             |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
             |SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM j GROUP BY status ORDER BY status""".stripMargin),
      "corpus release diff: full-outer join on stable ids + fingerprint compare"),

    // ── X6i: deterministic negative sampling (contrastive pairs) ──────
    // Contrastive-training prep: each anchor doc draws k pseudo-random
    // negatives by hashing (doc_id, j) onto the id space — seedless,
    // reproducible, and joined back to the embedding table by key
    // equality (never a random shuffle or sample()). The corpus size
    // enters as a one-row broadcast (the only "global" needed); self-
    // collisions are filtered, so a draw hitting its own anchor yields
    // k-1 negatives for that doc — accepted and documented, not
    // silently resampled (resampling would need data-dependent
    // iteration). Endpoints reduced mod 1e9+7 before the multiply so
    // the mix can't overflow under ANSI.
    "x45_negative_sampling" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val n = e.agg(count(lit(1)).as("n_vec"))
        val draws = t(s, dir, "documents")
          .select(col("doc_id"), explode(sequence(lit(1), lit(3))).as("j"))
          .crossJoin(broadcast(n))
          .withColumn("neg_id", pmod(
            pmod(col("doc_id"), lit(1000000007L)) * 2654435761L +
              col("j") * 40503L, col("n_vec")))
          .filter(col("neg_id") =!= col("doc_id"))
        draws.join(e.select(col("vec_id"), col("label")),
            col("neg_id") === col("vec_id"))
          .select(col("doc_id"), col("j"), col("neg_id"), col("label").as("neg_label"))
          .orderBy("doc_id", "j")
      },
      Some("""WITH n AS (SELECT count(*) AS n_vec FROM embeddings),
             |draws AS (
             |  SELECT doc_id, j,
             |    ((doc_id % 1000000007) * 2654435761 + j * 40503) % n_vec AS neg_id
             |  FROM documents CROSS JOIN (SELECT unnest(range(1, 4)) AS j) CROSS JOIN n)
             |SELECT d.doc_id, d.j, d.neg_id, e.label AS neg_label
             |FROM draws d JOIN embeddings e ON d.neg_id = e.vec_id
             |WHERE d.neg_id <> d.doc_id
             |ORDER BY d.doc_id, d.j""".stripMargin),
      "contrastive negative sampling: seedless (doc_id, j) hash draws, key-equality join"),

    // ── X6j: overlapping token chunking (context segmentation) ────────
    // RAG/pretraining segmentation: each doc explodes into 50-token
    // chunks on a 40-token stride (10-token overlap), entirely map-side
    // — the chunk starts are a generated sequence, the slice is an
    // array op, no shuffle until the deterministic output sort. Chunk
    // identity is (doc_id, chunk_id); the md5 over the re-joined text
    // gives downstream dedup a chunk-level fingerprint.
    "x46_token_chunks" -> Q(
      (s, dir) => tokenChunks(t(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |st AS (SELECT doc_id, w,
             |         unnest(range(0, greatest(len(w), 1), 40)) AS start
             |       FROM toks)
             |SELECT doc_id,
             |  CAST(start / 40 AS INTEGER) AS chunk_id,
             |  len(list_slice(w, start + 1, start + 50)) AS chunk_tokens,
             |  md5(array_to_string(list_slice(w, start + 1, start + 50), ' ')) AS chunk_fp
             |FROM st ORDER BY doc_id, chunk_id""".stripMargin),
      "overlapping token chunking: generated stride starts + array slice, map-side only"),

    // ── X6j': cross-document duplicated-chunk audit (x119) ────────────
    // Chunk-granular boilerplate detection over x46's segmentation
    // (ONE chunk definition — tokenChunks — so the audit cannot
    // disagree with the chunker): a chunk is duplicated when its
    // fingerprint appears in MORE THAN ONE document (min ≠ max doc
    // over the fp key — exact for the ≥2-distinct-docs predicate with
    // no distinct-count shuffle), and each affected document reports
    // its duplicated-chunk share in micro-units — the retrieval-store
    // hygiene signal (a RAG index full of boilerplate chunks serves
    // boilerplate). One fp-keyed window over the chunk table, one
    // doc-keyed aggregate; affected docs only.
    "x119_dup_chunk_audit" -> Q(
      (s, dir) => {
        val wf = Window.partitionBy("chunk_fp")
        tokenChunks(t(s, dir, "documents"))
          .withColumn("dup",
            min("doc_id").over(wf) =!= max("doc_id").over(wf))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("dup_chunks"))
          .filter(col("dup_chunks") > 0)
          .withColumn("dup_micro", expr(
            "CAST(CAST(dup_chunks AS DECIMAL(38,0)) * 1000000 div n_chunks AS BIGINT)"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |st AS (SELECT doc_id, w,
             |         unnest(range(0, greatest(len(w), 1), 40)) AS start
             |       FROM toks),
             |ch AS (SELECT doc_id,
             |         md5(array_to_string(list_slice(w, start + 1, start + 50), ' ')) AS fp
             |       FROM st),
             |f AS (SELECT fp, min(doc_id) AS mn, max(doc_id) AS mx FROM ch GROUP BY fp),
             |j AS (SELECT c.doc_id, (f.mn <> f.mx) AS dup
             |      FROM ch c JOIN f ON c.fp = f.fp),
             |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |        CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
             |      FROM j GROUP BY doc_id)
             |SELECT doc_id, n_chunks, dup_chunks,
             |  CAST(CAST(dup_chunks AS HUGEINT) * 1000000 // n_chunks AS BIGINT) AS dup_micro
             |FROM g WHERE dup_chunks > 0 ORDER BY doc_id""".stripMargin),
      "cross-document duplicated-chunk shares over x46's segmentation: min/max-over-fp duplication predicate (no distinct-count shuffle), affected docs only"),

    // ── X6k: end-to-end preprocessing capstone — filter → pack ────────
    // The composed pipeline a pretraining run actually executes:
    // quality-gate the corpus (x27's stopword/length score), then pack
    // the SURVIVORS into per-source 2048-token bins (x38's layout).
    // One declarative plan: Catalyst fuses the quality predicate into
    // the scan stage, the window reuses the source partitioning, and
    // the bounded manifest is the only thing that leaves the executors.
    "x47_pipeline_manifest" -> Q(
      (s, dir) => {
        val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
        val nTok = size(col("tk"))
        val ratio = size(filter(col("tk"), tk => tk.isin(stops: _*)))
          .cast("double") / nTok
        val quality = (lit(1.0) - ratio) * least(nTok.cast("double"), lit(50.0)) / 50.0
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .withColumn("tk", Text.tokens(col("text")))
          .withColumn("q", pround(quality, 6))
          .filter(col("q") >= 0.5)
          .withColumn("n_tokens", nTok)
          .withColumn("cum", sum("n_tokens").over(w))
          .withColumn("bin", floor((col("cum") - col("n_tokens")) / lit(2048)))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("bin_tokens"),
            // exact-integer mean (micro-units trick): double avg() is
            // accumulation-order-dependent; summing the 6-dp scores as
            // longs is exact in any order on both engines
            pround(sum(round(col("q") * 1e6).cast("long")).cast("double") /
              (count(lit(1)) * lit(1000000L)), 6).as("avg_quality"))
          .orderBy("source", "bin")
      },
      Some {
        val nTokSql = "len(string_split(text, ' '))"
        val nStopSql = "len(list_filter(string_split(text, ' '), " +
          "tk -> list_contains(['the','a','of','and','to','in','is','on'], tk)))"
        s"""WITH scored AS (
           |  SELECT source, doc_id, $nTokSql AS n_tokens,
           |    ${duckRound(s"(1.0 - $nStopSql * 1.0 / $nTokSql) * least($nTokSql * 1.0, 50.0) / 50.0", 6)} AS q
           |  FROM documents),
           |surv AS (
           |  SELECT *, sum(n_tokens) OVER (
           |      PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM scored WHERE q >= 0.5)
           |SELECT source, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
           |  count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           |  ${duckRound(
               "sum(CAST(round(q * 1000000, 0) AS BIGINT)) * 1.0 / (count(*) * 1000000)", 6)}
           |    AS avg_quality
           |FROM surv GROUP BY 1, 2 ORDER BY source, bin""".stripMargin
      },
      "capstone: quality gate fused into the scan, survivors packed per shard, bounded manifest"),

    // ── X6l: cross-document repeated substring spans ──────────────────
    // Substring-level dedup signal (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better"): a 10-gram occurring
    // in >= 2 distinct documents marks every one of its occurrence
    // positions as duplicated text. The suffix-array of the paper is a
    // single-machine construction; the distributed equivalent is
    // positional n-gram fingerprints — built map-side in the scan stage
    // (one md5 per start position), ONE shuffle on the fingerprint to
    // find cross-doc grams, and a second keyed agg back onto doc_id.
    // Fingerprints shuffle, payloads never do. Output: per-doc
    // duplicated-position fraction — the "remove or trim" decision
    // input at pretraining scale.
    //
    // HOT-GRAM DF-CAP (the Zipf lever, r8 prose → code): a gram in
    // more than HotGramDfCap distinct documents is template
    // boilerplate (headers, license banners, navigation chrome), not
    // copied content — it carries no span signal, and on a Zipf
    // corpus its occurrence mass DOMINATES the fp join: the join
    // output is Σ df(fp)·occ(fp), and the head of the distribution
    // contributes df ≈ corpus-sized fan-outs per gram. Capping df at
    // the dup filter (2 ≤ df ≤ cap) excludes exactly that head, so
    // the per-doc stage scales with the copied-span tail regardless
    // of how boilerplate-heavy the corpus is. The cap is part of the
    // query's SEMANTICS, expressed identically in the oracle CTE
    // (BETWEEN 2 AND cap); testdata's max df is 4, so spec-SF results
    // are byte-identical with or without it (the invariant spec
    // builds a corpus where it bites).
    "x49_substring_spans" -> Q(
      (s, dir) => {
        val d = tokStaged(s, dir).filter(size(col("tk")) >= 10)
        // the per-position md5 stage is the dominant cost and feeds
        // BOTH the cross-doc dup set and the per-doc count — persist
        // it once (the in-query analog of a materialized gram table)
        val g = SessionMemo.frame(s, "x49-grams", dir) {
          // native sliding-gram kernel (r19 — Text.gramMd5Native): same
          // md5-hex values as the HOF transform/sequence/slice chain
          // (ScrubKernelSpec pins byte equality) without its per-
          // position slice-copy + interpreted lambda dispatch
          d.select(col("doc_id"),
            explode(Text.gramMd5Native(col("tk"), 10)).as("fp"))
            .persist()
        }
        val dup = g.groupBy("fp")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2 && col("nd") <= HotGramDfCap).select("fp")
        val perDoc = g.join(dup, Seq("fp"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
        d.select(col("doc_id"), (size(col("tk")) - 9).cast("long").as("n_grams"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("n_dup_grams", coalesce(col("n_dup_grams"), lit(0L)))
          .withColumn("dup_frac",
            pround(col("n_dup_grams").cast("double") / col("n_grams"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |base AS (SELECT doc_id, w, len(w) - 9 AS n_grams
              |         FROM toks WHERE len(w) >= 10),
              |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 8),
              |        i -> md5(array_to_string(list_slice(w, i, i + 9), ' ')))) AS fp
              |      FROM base),
              |dup AS (SELECT fp FROM g GROUP BY fp
              |        HAVING count(DISTINCT doc_id) BETWEEN 2 AND $HotGramDfCap),
              |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
              |       FROM g JOIN dup USING (fp) GROUP BY doc_id)
              |SELECT b.doc_id, b.n_grams,
              |  coalesce(pd.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
              |  ${duckRound(
                   "coalesce(pd.n_dup_grams, 0) * 1.0 / b.n_grams", 6)} AS dup_frac
              |FROM base b LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin),
      "substring dedup signal: positional 10-gram fingerprints, cross-doc grams in one shuffle"),

    // ── X6m: bigram vocabulary induction (BPE merge candidates) ───────
    // The counting stage of tokenizer training: adjacent-token pair
    // frequencies over the corpus — exactly the statistic BPE's first
    // merge step maximizes. Map-side positional-bigram explode fused
    // into the scan, one partial-aggregated hash agg on the pair, top-k
    // via TakeOrderedAndProject (never a global sort). Full BPE would
    // iterate merge → re-tokenize with the same loop discipline as
    // Components (each round is this exact plan over the re-tokenized
    // corpus); one round is the demonstrable, oracle-checkable unit.
    "x50_bigram_vocab" -> Q(
      (s, dir) => bigramCounts(tokStaged(s, dir))
        .orderBy(desc("n"), asc("pair"))
        .limit(50),
      Some(s"""WITH $duckBigrams
              |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM g
              |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin),
      "BPE merge-candidate counts: map-side bigram explode, one hash agg, top-k"),

    // ── X6n: Gopher-style composite rule filter ───────────────────────
    // Rahimi/Rae et al. (Gopher) document-level quality RULES, adapted
    // to the whitespace corpus: word-count bounds, mean word length
    // band, minimum stopword evidence, and max single-token repetition
    // fraction — a boolean GATE (vs x27's continuous score; x43 scores
    // shingle repetition, this rules on token mode). All rules are
    // array expressions fused into the scan — zero shuffle before the
    // output sort. The token-mode pass is O(distinct × len) per doc —
    // bounded by document length, not data; pathological single-doc
    // lengths would move it to an explode + window per doc_id.
    // Thresholds compare the ROUNDED ratios so the two engines gate on
    // identical values.
    "x52_gopher_rules" -> Q(
      // sort first, gate after (q20 lesson — see x27)
      (s, dir) => t(s, dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .withColumn("tk", Text.tokens(col("text")))
        // ONE rule definition (Text.gopherGate), shared with the
        // streaming quality monitor (EventStream.qualityGateMonitor)
        .withColumn("g", Text.gopherGate(col("tk")))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_wlen").as("mean_wlen"), col("g.n_stop").as("n_stop"),
          col("g.rep_frac").as("rep_frac"), col("g.keep").as("keep")),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |m AS (SELECT doc_id, len(w) AS n_words,
              |    ${duckRound("list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w)", 6)}
              |      AS mean_wlen,
              |    len(list_filter(w, t ->
              |      list_contains(['the','a','of','and','to','in','is','on'], t))) AS n_stop,
              |    ${duckRound(
                     "list_max(list_transform(list_distinct(w), " +
                       "t -> len(list_filter(w, x -> x = t)))) * 1.0 / len(w)", 6)}
              |      AS rep_frac
              |  FROM toks)
              |SELECT doc_id, n_words, mean_wlen, n_stop, rep_frac,
              |  (n_words BETWEEN 20 AND 400 AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
              |   AND n_stop >= 2 AND rep_frac <= 0.2) AS keep
              |FROM m ORDER BY doc_id""".stripMargin),
      "Gopher rule gate: word bounds, mean length band, stopword evidence, token-mode repetition"),

    // ── X6o: training-mixture planning (per-source token budgeting) ───
    // Given literal target mixture weights (micro-units — rational
    // arithmetic end to end) and a total token budget, compute each
    // language's available tokens, its planned allocation
    // min(available, weight x budget), and the resulting sampling
    // rate — the data-curation step that decides per-source keep rates
    // before a x37-style stratified draw executes them. One partial-
    // aggregated shuffle for the per-lang token counts; the weight
    // table is a literal broadcast.
    "x53_mixture_plan" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = mixtureWeights.toDF("lang", "w_micro")
        t(s, dir, "documents")
          .groupBy("lang")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
          .join(broadcast(w), Seq("lang"))
          .withColumn("planned_tokens",
            least(col("avail_tokens"), expr("(20000 * w_micro) div 1000000")))
          .withColumn("rate",
            pround(col("planned_tokens").cast("double") / col("avail_tokens"), 6))
          .select("lang", "avail_tokens", "w_micro", "planned_tokens", "rate")
          .orderBy("lang")
      },
      Some(s"""WITH $duckMixtureWeights,
              |avail AS (SELECT lang,
              |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
              |  FROM documents GROUP BY lang)
              |SELECT a.lang, a.avail_tokens, CAST(w.w_micro AS BIGINT) AS w_micro,
              |  least(a.avail_tokens, (20000 * CAST(w.w_micro AS BIGINT)) // 1000000)
              |    AS planned_tokens,
              |  ${duckRound(
                   "least(a.avail_tokens, (20000 * CAST(w.w_micro AS BIGINT)) // 1000000)" +
                     " * 1.0 / a.avail_tokens", 6)} AS rate
              |FROM avail a JOIN w USING (lang) ORDER BY a.lang""".stripMargin),
      "mixture planner: literal weight broadcast, one token-count shuffle, rational allocation"),

    // ── X6p: exact per-group quantiles via rank selection ─────────────
    // Corpus length profile: per-lang exact p50/p90/p99 of n_chars by
    // row_number rank selection (value at rank ceil(q x n) — explicit,
    // interpolation-free, so both engines pick the identical row). One
    // shuffle (the per-lang window). At 100 TB with tight groups this
    // exact path holds; unbounded groups move to the mergeable-sketch
    // path, REGISTERED as x97 (fixed-grid histogram, error bound = the
    // declared bin width).
    "x54_length_quantiles" -> Q(
      (s, dir) => {
        val byLang = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
        def pick(q: Double) =
          max(when(col("rn") === ceil(col("n") * lit(q)), col("n_chars")))
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(byLang).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
          .groupBy("lang")
          .agg(max(col("n")).as("n_docs"), pick(0.5).as("p50"),
            pick(0.9).as("p90"), pick(0.99).as("p99"))
          .orderBy("lang")
      },
      Some("""WITH r AS (SELECT lang, n_chars,
             |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS n
             |  FROM documents)
             |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
             |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS p90,
             |  max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN n_chars END) AS p99
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin),
      "exact group quantiles: rank selection at ceil(q*n), one window shuffle"),

    // ── X6q: KMV distinct sketch — the ORACLE-CHECKABLE sketch path ───
    // x33's HLL is rows-only because DuckDB's HLL construction differs;
    // KMV (k-minimum-values, Bar-Yossef et al. 2002) is deterministic
    // given the hash: keep the k smallest distinct 60-bit md5 hash
    // values per group, estimate distinct = (k-1) / normalized kth
    // minimum — every intermediate is an exact integer, the one
    // division is double-on-identical-operands, so the APPROXIMATION
    // ITSELF hash-matches the oracle. Mergeable like HLL (union the
    // k-smallest sets); here the rank filter plans WindowGroupLimit
    // (per-partition k-heaps before the group shuffle — asserted), so
    // only k hashes per (partition, group) ever move. Groups with
    // fewer than k distinct values are exact by the KMV rule.
    "x55_kmv_distinct" -> Q(
      (s, dir) => {
        val k = 32
        val d = t(s, dir, "documents")
        val hashed = d.select(col("lang"),
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
          .distinct()
        val w = Window.partitionBy("lang").orderBy("h")
        // the rank filter is what bounds the sketch: it plans
        // WindowGroupLimit (per-partition k-heaps before the group
        // shuffle), so only k hashes per (partition, lang) ever move
        val stats = hashed.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            max(when(col("rn") === k, col("h"))).as("kth"))
        val exact = d.groupBy("lang").agg(countDistinct(col("text")).as("exact_distinct"))
        val est = when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
            col("kth").cast("double"))
        exact.join(stats, Seq("lang"))
          .withColumn("kmv_est", pround(est, 3))
          .withColumn("rel_err", pround(
            abs(col("kmv_est") - col("exact_distinct").cast("double")) /
              col("exact_distinct").cast("double"), 6))
          .select("lang", "exact_distinct", "kmv_est", "rel_err")
          .orderBy("lang")
      },
      Some(s"""WITH hashed AS (SELECT DISTINCT lang,
              |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
              |  FROM documents),
              |r AS (SELECT lang, h,
              |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
              |  FROM hashed),
              |stats AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
              |    max(CASE WHEN rn = 32 THEN h END) AS kth
              |  FROM r WHERE rn <= 32 GROUP BY lang),
              |ex AS (SELECT lang, count(DISTINCT text) AS exact_distinct
              |  FROM documents GROUP BY lang),
              |est AS (SELECT e.lang, e.exact_distinct,
              |    ${duckRound(
                     "CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE) " +
                       "ELSE 31.0 * 1152921504606846976.0 / CAST(s.kth AS DOUBLE) END", 3)}
              |      AS kmv_est
              |  FROM ex e JOIN stats s USING (lang))
              |SELECT lang, exact_distinct, kmv_est,
              |  ${duckRound(
                   "abs(kmv_est - CAST(exact_distinct AS DOUBLE)) / " +
                     "CAST(exact_distinct AS DOUBLE)", 6)} AS rel_err
              |FROM est ORDER BY lang""".stripMargin),
      "KMV distinct sketch: portable hash, per-group k-minima via WindowGroupLimit, exact-checkable estimate"),

    // ── X5f: Count-Min sketch heavy hitters (Cormode & Muthukrishnan
    // 2005) — the mergeable fixed-size frequency sketch: d=3 md5-derived
    // hash rows × w=1024 buckets, built from exact token counts in one
    // extra tiny shuffle (equivalent to adding every occurrence, since
    // addition commutes into the bucket sums). The estimate is
    // min over d of the probed bucket sums — an upper bound whose
    // collision error the output makes VISIBLE next to the exact count
    // (cms_est >= n_exact always; equality when no collision). At
    // 100 TB the point is the sketch's size: d×w cells regardless of
    // corpus, partial-aggregated map-side, mergeable across shards —
    // the exact top-k here is only the audit baseline.
    "x56_cms_heavy_hitters" -> Q(
      (s, dir) => {
        val w = 1024
        def bucket(tok: Column, j: Int): Column = pmod(
          conv(substring(md5(concat(lit(j.toString), tok)), 1, 15), 16, 10)
            .cast("long"), lit(w))
        val counts = SessionMemo.frame(s, "x56-counts", dir) {
          t(s, dir, "documents")
            .select(explode(Text.tokens(col("text"))).as("tok"))
            .filter(length(col("tok")) > 0)
            .groupBy("tok").agg(count(lit(1)).as("n"))
            .persist()
        }
        val sketch = counts
          .select(explode(array((0 until 3).map(j =>
            struct(lit(j).as("j"), bucket(col("tok"), j).as("b"), col("n"))): _*)).as("x"))
          .select(col("x.j").as("j"), col("x.b").as("b"), col("x.n").as("n"))
          .groupBy("j", "b").agg(sum("n").as("bn"))
        val probes = counts
          .orderBy(desc("n"), asc("tok")).limit(20)
          .select(col("tok"), col("n"),
            explode(array((0 until 3).map(j =>
              struct(lit(j).as("j"), bucket(col("tok"), j).as("b"))): _*)).as("p"))
          .select(col("tok"), col("n"), col("p.j").as("j"), col("p.b").as("b"))
        probes.join(sketch, Seq("j", "b"))
          .groupBy("tok", "n").agg(min("bn").as("cms_est"))
          .select(col("tok"), col("n").as("n_exact"), col("cms_est"))
          .orderBy(desc("n_exact"), asc("tok"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
             |           FROM toks WHERE len(tok) > 0 GROUP BY tok),
             |js AS (SELECT unnest(range(3)) AS j),
             |sketch AS (SELECT j,
             |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || tok), 1, 15) AS BIGINT)
             |      % 1024 AS b,
             |    CAST(sum(n) AS BIGINT) AS bn
             |  FROM counts CROSS JOIN js GROUP BY 1, 2),
             |cand AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 20),
             |probes AS (SELECT tok, n, j,
             |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || tok), 1, 15) AS BIGINT)
             |      % 1024 AS b
             |  FROM cand CROSS JOIN js)
             |SELECT p.tok, p.n AS n_exact, CAST(min(s.bn) AS BIGINT) AS cms_est
             |FROM probes p JOIN sketch s ON p.j = s.j AND p.b = s.b
             |GROUP BY p.tok, p.n ORDER BY n_exact DESC, tok""".stripMargin),
      "Count-Min sketch: d=3 × w=1024 mergeable bucket sums; estimate = min over rows, error visible vs exact"),

    // ── X5g: skip-gram co-occurrence pairs (word2vec data prep) ───────
    // (center, context) counts within a symmetric ±2 token window — the
    // counting stage embedding training consumes. The window NEVER
    // becomes a per-document cross join — and (r11) never a JOIN at
    // all: a skip-gram pair lives entirely inside one token array, so
    // both offsets generate ARRAY-LOCALLY as zip_with over shifted
    // slices (the bigramsFromTokens slice pattern, offset 2 added) and
    // the only shuffle left is the pair-count aggregate itself. The
    // r10 shape — posexplode staging + ×2 probe-key explode +
    // (doc_id, position) equality join — produced exactly this pair
    // multiset with one extra shuffle and a persisted position table;
    // measured 3.9 s warm at sf1, all join overhead. Symmetry still
    // comes from emitting both orientations of each positive-offset
    // pair; the empty-token rule (a pair survives iff BOTH tokens are
    // non-empty) is the positional formulation's filter applied
    // pairwise — same semantics, the oracle replays the join form.
    "x57_skipgram_pairs" -> Q(
      (s, dir) => {
        val n = size(col("tk"))
        def shifted(off: Int) = zip_with(
          slice(col("tk"), lit(1), greatest(n - off, lit(0))),
          slice(col("tk"), lit(1 + off), greatest(n - off, lit(0))),
          (a, b) => struct(a.as("center"), b.as("context")))
        val pos = tokStaged(s, dir)
          .select(explode(concat(shifted(1), shifted(2))).as("p"))
          .select(col("p.center").as("center"), col("p.context").as("context"))
          .filter(length(col("center")) > 0 && length(col("context")) > 0)
        pos.unionByName(pos.select(col("context").as("center"), col("center").as("context")))
          .groupBy("center", "context").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("center"), asc("context"))
          .limit(30)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tp0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w FROM toks),
             |tok AS (SELECT doc_id, pos, w[pos] AS tok FROM tp0 WHERE len(w[pos]) > 0),
             |pr AS (SELECT a.tok AS center, b.tok AS context
             |       FROM tok a JOIN tok b
             |         ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)),
             |sym AS (SELECT center, context FROM pr
             |        UNION ALL SELECT context, center FROM pr)
             |SELECT center, context, count(*) AS n FROM sym
             |GROUP BY center, context
             |ORDER BY n DESC, center, context LIMIT 30""".stripMargin),
      "skip-gram ±2 window pair counts: map-side probe-key explode + one positional equality join"),

    // ── X5h: containment near-dup pairs (asymmetric subset detection) ─
    // Jaccard under-scores SUBSET duplication: a paragraph fully copied
    // into a 10× larger document scores J ≈ 0.1 (kept by x22) while its
    // containment C(A→B) = |A∩B|/|A| is ≈ 1. Candidates come from the
    // SAME banded-minhash generator as x22 (one signature table, one
    // band-key equality join — never all-pairs); the confirm step then
    // scores both directional containments and keeps pairs where either
    // direction ≥ 0.7. At scale this is the dedup pass that catches
    // boilerplate wrappers and quote-expansion chains.
    "x58_containment_dedup" -> Q(
      (s, dir) => minhashConfirm(s, dir)
        .withColumn("cont_a", pround(col("inter") / size(col("sha")), 6))
        .withColumn("cont_b", pround(col("inter") / size(col("shb")), 6))
        .filter(greatest(col("cont_a"), col("cont_b")) >= 0.7)
        .select("doc_a", "doc_b", "cont_a", "cont_b")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckMinhashCand,
              |c AS (SELECT doc_a, doc_b,
              |        ${duckRound(
                        "len(list_intersect(x.sh, y.sh)) * 1.0 / len(x.sh)", 6)} AS cont_a,
              |        ${duckRound(
                        "len(list_intersect(x.sh, y.sh)) * 1.0 / len(y.sh)", 6)} AS cont_b
              |      FROM cand
              |      JOIN hsd x ON x.doc_id = doc_a
              |      JOIN hsd y ON y.doc_id = doc_b)
              |SELECT doc_a, doc_b, cont_a, cont_b FROM c
              |WHERE greatest(cont_a, cont_b) >= 0.7
              |ORDER BY doc_a, doc_b""".stripMargin),
      "directional containment dedup over the shared minhash candidate graph; catches subset duplication"),

    // ── X5i: exponentially-weighted daily volume (recency decay) ──────
    // The recency-weighting signal a sampling mixture uses to favor
    // fresh data. The distributed formulation, the integer-arithmetic
    // parity design, and the 20-tap truncation all live in
    // functions.Decay — ONE definition shared with the streaming
    // recency monitor (EventStream.recencyMonitor), so the batch
    // oracle checks the same math the stream runs.
    "x59_ewma" -> Q(
      (s, dir) => graft.functions.Decay.ewma(
        t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))),
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |  FROM events GROUP BY 1),
             |taps AS (SELECT lag, 1::BIGINT << CAST(19 - lag AS INTEGER) AS w
             |         FROM (SELECT unnest(range(20)) AS lag)),
             |contrib AS (
             |  SELECT d.day + t.lag * INTERVAL 1 DAY AS day, sum(d.n * t.w) AS num
             |  FROM daily d CROSS JOIN taps t GROUP BY 1)
             |SELECT d.day, d.n,
             |  CAST((c.num * 15625) // 16384 AS BIGINT) AS ewma_micro
             |FROM daily d JOIN contrib c ON d.day = c.day
             |ORDER BY d.day""".stripMargin),
      "α=1/2 EWMA over daily volume: literal-weight tap explode + one target-day agg; integer micro-units"),

    // ── X4f: inter-document n-gram duplication fraction ───────────────
    // The corpus-level twin of x43 (which scores repetition WITHIN a
    // doc): what fraction of each document's distinct 3-shingles also
    // appears in at least one OTHER document — the per-document
    // "how boilerplate is this" signal C4/Gopher-style corpus analyses
    // aggregate before choosing dedup thresholds. Shingles are distinct
    // per doc (Text.shingles array_distinct's), so the global count per
    // shingle IS its document frequency; one shuffle builds the df
    // table, one key-equality join annotates each (doc, shingle) pair,
    // one per-doc agg folds to the fraction. Integer micro-units
    // (n_dup·1e6 div n_shingles) keep both engines bit-identical. At
    // 100 TB this is the standard two-pass df shape (same class as
    // x40's TF-IDF): signatures shuffle, payloads never do.
    // Shape, r11: rides the family's one shingle staging ([[shingled]]
    // — the whole-registry sf1 pass measured the per-query
    // tokenize+shingle at most of this query's 8× warm slope), the
    // per-doc total is map-side size(sh) (shingles are distinct per
    // doc, so the old post-join count(*) = the array length), and only
    // the nd ≥ 2 shingle KEYS flow through the annotate step — a
    // left-semi probe against the duplicated minority instead of an
    // inner join carrying every (doc, shingle) pair back out of the
    // shuffle. Zero-shingle docs (< 3 tokens) stay excluded, matching
    // the inner-join formulation the oracle replays.
    "x60_dup_ngram_frac" -> Q(
      (s, dir) => {
        val base = shingled(s, dir)
        val shs = base.select(col("doc_id"), explode(col("sh")).as("sh"))
        val dup = shs.groupBy("sh").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select("sh")
        val perDoc = shs.join(dup, Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        base.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
          .join(perDoc, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_dup"))
          .select(col("doc_id"), col("n_shingles"), col("n_dup"),
            expr("(n_dup * 1000000) div n_shingles").as("dup_micro"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckShingles,
              |feat AS (SELECT doc_id, unnest(sh) AS sh FROM shs),
              |g AS (SELECT sh, count(*) AS nd FROM feat GROUP BY 1)
              |SELECT f.doc_id,
              |  CAST(count(*) AS BIGINT) AS n_shingles,
              |  CAST(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
              |  CAST(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) * 1000000
              |       // count(*) AS BIGINT) AS dup_micro
              |FROM feat f JOIN g ON f.sh = g.sh
              |GROUP BY 1 ORDER BY doc_id""".stripMargin),
      "inter-doc shingle duplication fraction: one df shuffle + key-equality annotate join; micro-units"),

    // ── X6p: one BPE merge round — candidate pick + APPLY ─────────────
    // x50 stops at merge-CANDIDATE counts; this completes the BPE
    // round: pick the globally most frequent adjacent pair
    // (deterministic tie-break, same as x50) and APPLY it to every
    // document with left-to-right NON-OVERLAPPING semantics — "x x x"
    // merges once, not twice, exactly like a real BPE tokenizer's merge
    // step. The apply is order-sequential per document, so it runs as a
    // per-row left fold (functions.aggregate) over an encoded-state
    // BIGINT (acc = 2·merges + lastStepMerged), the same
    // seeded-list_reduce parity trick as x30's rolling fingerprint —
    // map-side, codegen'd, zero shuffle. The winning pair ships as a
    // broadcast single-row cross join (the x24 query-vector legitimacy
    // class: one row, never data-proportional). At 100 TB the pair
    // count is one shuffle over bigram keys; the apply pass is
    // embarrassingly parallel.
    "x61_bpe_merge" -> Q(
      (s, dir) => {
        val docs = tokStaged(s, dir).filter(size(col("tk")) >= 2)
        // the pick reuses x50's EXACT counting pipeline (bigramCounts)
        val top = bigramCounts(docs)
          .orderBy(desc("n"), asc("pair"))
          .limit(1)
          .select(col("pair"),
            element_at(split(col("pair"), " "), 1).as("a"),
            element_at(split(col("pair"), " "), 2).as("b"))
        docs.crossJoin(broadcast(top))
          // ONE fold definition (Text.pairMergeCount), shared with the
          // PropertiesSpec reference-implementation property
          .withColumn("n_merges",
            Text.pairMergeCount(col("tk"), col("a"), col("b")))
          .select(col("doc_id"), col("pair"),
            size(col("tk")).cast("long").as("n_tokens"),
            col("n_merges"),
            (size(col("tk")).cast("long") - col("n_merges")).as("n_after"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckBigrams,
             |d AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
             |top AS (SELECT pair, string_split(pair, ' ')[1] AS a,
             |               string_split(pair, ' ')[2] AS b
             |        FROM (SELECT pair, count(*) AS n FROM g
             |              GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)),
             |e AS (SELECT d.doc_id, t.pair,
             |        CAST(len(d.w) AS BIGINT) AS n_tokens,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, len(d.w))),
             |          (acc, i) -> CASE WHEN acc % 2 = 0 AND d.w[i] = t.a
             |                            AND d.w[i + 1] = t.b
             |                           THEN acc + 3 ELSE acc - (acc % 2) END) AS enc
             |      FROM d CROSS JOIN top t)
             |SELECT doc_id, pair, n_tokens,
             |  CAST(enc // 2 AS BIGINT) AS n_merges,
             |  n_tokens - CAST(enc // 2 AS BIGINT) AS n_after
             |FROM e ORDER BY doc_id""".stripMargin),
      "one full BPE merge round: global pair pick + non-overlapping fold apply (encoded-state left fold)"),

    // ── X2g: triangle census of the near-dup candidate graph ──────────
    // Cluster-cohesion diagnostic over the SAME candidate graph x22/x58
    // band-join and x36 resolves: wedge count, triangle count, and the
    // closure fraction — high closure says the LSH buckets are finding
    // real clusters, low closure says band collisions are spraying
    // chains. Scale design is the compact-forward orientation: every
    // edge points from its lower-(deg, id) endpoint, so wedges are
    // generated only at each triangle's LOWEST-order corner and the
    // per-node wedge fan-out is bounded by ORIENTED out-degree —
    // O(√edges) for any graph (arboricity bound), never raw hub degree.
    // Each triangle is counted exactly once, as its single oriented
    // closed wedge: two equality joins, no all-pairs anywhere (the
    // input graph is LSH-sparse by construction).
    "x62_dedup_triangles" -> Q(
      (s, dir) => {
        // the candidate list feeds FIVE plan references (degree build ×1,
        // orientation ×1 via edges, then oriented×3: both wedge sides +
        // the closing probe) — memoize+persist so the band self-join
        // runs once, the same signature-table discipline as
        // minhashHashed (pairs are signature-scale, never payloads)
        val edges = SessionMemo.frame(s, "x62-cand-edges", dir) {
          minhashCandPairs(minhashHashed(s, dir)).persist()
        }
        val deg = edges.select(col("doc_a").as("node"))
          .unionAll(edges.select(col("doc_b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val lower = col("da") < col("db") ||
          (col("da") === col("db") && col("doc_a") < col("doc_b"))
        // broadcast() EXPLICITLY — the q31 lesson (commit 1cf09f4)
        // applied to the same shape: deg is NODE-sized (≪ edges, which
        // are themselves LSH-sparse), but both join inputs derive from
        // the memoized InMemoryRelation, which AQE cannot re-plan
        // through (no shuffle-stage stats), so without the hint the
        // warm-run plan silently fell back to SortMergeJoins that
        // re-sorted the cached candidate list on every invocation
        // (r7 driver artifact: warm 6.08 s > cold 5.70 s). At |V|
        // beyond broadcast capacity, drop the hint and pre-partition
        // the edge list by the join key instead.
        val oriented = SessionMemo.frame(s, "x62-oriented", dir) {
          edges
            .join(broadcast(deg.select(col("node").as("doc_a"), col("deg").as("da"))), "doc_a")
            .join(broadcast(deg.select(col("node").as("doc_b"), col("deg").as("db"))), "doc_b")
            .select(when(lower, col("doc_a")).otherwise(col("doc_b")).as("src"),
              when(lower, col("doc_b")).otherwise(col("doc_a")).as("dst"),
              when(lower, col("db")).otherwise(col("da")).as("dd"))
            .persist()
        }
        val wedges = oriented.as("e1").join(oriented.as("e2"), "src")
          .filter(col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst")))
          .select(col("e1.dst").as("v"), col("e2.dst").as("z"))
        val closed = wedges.join(
          oriented.select(col("src").as("v"), col("dst").as("z")), Seq("v", "z"))
        wedges.agg(count(lit(1)).as("n_wedges"))
          .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
          .select(col("n_wedges"), col("n_triangles"),
            when(col("n_wedges") > 0,
              expr("(n_triangles * 1000000) div n_wedges"))
              .otherwise(lit(0L)).as("closure_micro"))
      },
      Some(s"""WITH $duckMinhashCand,
              |deg AS (SELECT node, count(*) AS deg FROM (
              |          SELECT doc_a AS node FROM cand
              |          UNION ALL SELECT doc_b FROM cand) GROUP BY 1),
              |o AS (SELECT CASE WHEN (x.deg, e.doc_a) < (y.deg, e.doc_b)
              |               THEN e.doc_a ELSE e.doc_b END AS src,
              |             CASE WHEN (x.deg, e.doc_a) < (y.deg, e.doc_b)
              |               THEN e.doc_b ELSE e.doc_a END AS dst,
              |             CASE WHEN (x.deg, e.doc_a) < (y.deg, e.doc_b)
              |               THEN y.deg ELSE x.deg END AS dd
              |      FROM cand e
              |      JOIN deg x ON x.node = e.doc_a
              |      JOIN deg y ON y.node = e.doc_b),
              |w AS (SELECT a.dst AS v, b.dst AS z FROM o a JOIN o b
              |      ON a.src = b.src
              |      WHERE (a.dd, a.dst) < (b.dd, b.dst)),
              |tri AS (SELECT w.v, w.z FROM w
              |        JOIN o ON o.src = w.v AND o.dst = w.z)
              |SELECT CAST(w_cnt AS BIGINT) AS n_wedges,
              |  CAST(t_cnt AS BIGINT) AS n_triangles,
              |  CAST(CASE WHEN w_cnt > 0 THEN (t_cnt * 1000000) // w_cnt
              |            ELSE 0 END AS BIGINT) AS closure_micro
              |FROM (SELECT count(*) AS w_cnt FROM w),
              |     (SELECT count(*) AS t_cnt FROM tri)""".stripMargin),
      "triangle census of the LSH candidate graph: compact-forward orientation, O(sqrt(E)) wedge fan-out"),

    // ── X3h: quantizer distortion audit (k-means quality) ─────────────
    // "Measure, don't guess" for the IVF quantizer itself: per cluster,
    // member count + mean and worst (frontier) cosine-to-centroid. The
    // tuning dial for K and the Lloyd's round count — a distortion that
    // stops improving says the quantizer converged; a cluster whose
    // min_cos is far below its mean says its list straddles modes and
    // recall will pay. Reuses the SAME trained centroids + assignment
    // the retrieval queries use (trainedCentroids/ivfScored, duckIvfChain)
    // so the audit can't drift from the index it audits. Cosines are
    // summed as exact MICRO-unit integers (pround(·,6)·1e6 is integral
    // up to ulp and both engines round it to the same integer), so the
    // per-cluster mean is order-free + one division.
    "x68_quantizer_distortion" -> Q(
      (s, dir) => {
        val scored = ivfScored(trainedCentroids(s, dir)) _
        t(s, dir, "embeddings")
          .withColumn("best", array_max(scored(col("embedding"))))
          .select(col("best").getField("cid").as("cid"),
            round(col("best").getField("ccos") * 1000000.0, 0)
              .cast("long").as("cc_micro"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_members"),
            (sum("cc_micro").cast("double") /
              (count(lit(1)) * 1000000.0)).as("mean_cos"),
            (min("cc_micro").cast("double") / 1000000.0).as("min_cos"))
          .orderBy("cid")
      },
      Some(s"""WITH $duckIvfChain,
              |sc AS (SELECT a.vec_id, a.cid,
              |         CAST(round(${duckRound(duckCosine("a.embedding", "c.ce"), 6)}
              |           * 1000000.0, 0) AS BIGINT) AS cc_micro
              |       FROM asg a JOIN c2 c ON a.cid = c.cid)
              |SELECT cid, count(*) AS n_members,
              |  CAST(sum(cc_micro) AS DOUBLE) / (count(*) * 1000000.0) AS mean_cos,
              |  CAST(min(cc_micro) AS DOUBLE) / 1000000.0 AS min_cos
              |FROM sc GROUP BY cid ORDER BY cid""".stripMargin),
      "IVF quantizer distortion: per-cluster mean/frontier cosine in exact micro-units; shares the trained assignment"),

    // ── X3i: IVF with an index-build/query split ──────────────────────
    // The 100 TB form of ANN: the trained assignment is PERSISTED as a
    // cid-bucketed catalog table (layout shuffle paid once, at write),
    // and the registered query is the PROBE ONLY — bucketed scan +
    // broadcast probe rows + distributed heap, zero ShuffleExchange
    // (pinned by PlanAuditSpec). Same semantics and oracle as x34; the
    // assignment moved from the query into the table layout.
    "x71_ann_ivf_indexed" -> Q(
      (s, dir) => annIvfIndexedTopK(s, dir, 5),
      Some(s"WITH $duckIvfChain\n${duckIvfTopK(5)}"),
      "IVF probe over a cid-bucketed persisted index: zero-Exchange probe plan, index built once per corpus"),

    // ── X3j: incremental IVF index maintenance ────────────────────────
    // The 100 TB reality the build/query split alone lacks: corpora are
    // append-mostly, so the real daily operation is "assign the NEW
    // batch against the FROZEN quantizer and append to the bucketed
    // table" — never a full-index rewrite (PlanAuditSpec pins both: the
    // append plan scans only the new rows, and the post-append probe
    // still plans zero Exchange). The registered result is the
    // retrain-decision metric: recall@5 of the incrementally-maintained
    // index (trained on the historical 90%, new batch appended) vs the
    // full-retrain index (x34's quantizer over everything), both
    // against the exact top-k — when the drift exceeds tolerance, THAT
    // is when a pipeline schedules retraining. Oracle replays both
    // trainings (the prefixed chain trains on the historical slice).
    "x74_ann_ivf_append" -> Q(
      (s, dir) => {
        val exact = exactTop5Ids(s, dir)
        recallRow(exact, annIvfTopK(s, dir, 5), "ivf_full_retrain", 5)
          .unionByName(
            recallRow(exact, annIvfIncTopK(s, dir, 5), "ivf_incremental", 5))
          .orderBy("method")
      },
      Some(s"""WITH hsrc AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
              |${duckIvfChainFor("hsrc", "h")},
              |$duckIvfChain,
              |hnew AS (SELECT vec_id, embedding, cid FROM (
              |    SELECT e.vec_id, e.embedding, c.cid,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${duckRound(duckCosine("e.embedding", "c.ce"), 6)} DESC,
              |          c.cid DESC) AS rn
              |    FROM embeddings e CROSS JOIN hc2 c
              |    WHERE e.vec_id % 10 = 7) WHERE rn = 1),
              |hidx AS (SELECT vec_id, embedding, cid FROM hasg WHERE vec_id <> 0
              |         UNION ALL SELECT vec_id, embedding, cid FROM hnew),
              |inc5 AS (SELECT f.vec_id,
              |           ${duckRound(duckCosine("f.embedding", "hqp.qe"), 6)} AS cos
              |         FROM hidx f JOIN hqp ON f.cid = hqp.qcid
              |         ORDER BY cos DESC, f.vec_id LIMIT 5),
              |ivf5 AS (${duckIvfTopK(5)}),
              |exact5 AS (SELECT vec_id FROM (${duckExactTopK(5)})),
              |r AS (
              |  SELECT 'ivf_full_retrain' AS method, 5 AS k, count(*) AS hits
              |  FROM ivf5 JOIN exact5 USING (vec_id)
              |  UNION ALL
              |  SELECT 'ivf_incremental' AS method, 5 AS k, count(*) AS hits
              |  FROM inc5 JOIN exact5 USING (vec_id))
              |SELECT method, k, hits,
              |  ${duckRound("hits * 1.0 / 5.0", 6)} AS recall
              |FROM r ORDER BY method""".stripMargin),
      "incremental IVF maintenance: new batch assigned against the frozen quantizer and appended to the bucketed index; recall drift vs full retrain"),

    // ── X2h: quality-aware dedup survivor selection ───────────────────
    // Production dedup keeps the BEST document per near-dup cluster,
    // not the lowest id: x36 resolves the clusters (same simhash pair
    // graph), x27's quality score ranks the members (ONE shared
    // definition on both engines), and the survivor is the per-cluster
    // argmax under a TOTAL ordering (quality desc, doc_id asc — the
    // pround'ed score is bit-identical cross-engine, so the float sort
    // key is parity-safe; the id tie-break makes it deterministic).
    // Plan: the component resolution is x36's O(log n) machinery; the
    // ranking is one window over cluster-sized groups — cluster-keyed
    // shuffle, never corpus-wide.
    "x76_dedup_survivor_quality" -> Q(
      (s, dir) => {
        val comp = simhashComponents(s, dir)
        // score ONLY cluster members: at corpus scale the pair graph
        // covers a tiny fraction of documents, so the tokenization
        // cost semi-joins down to the members before it is paid —
        // never a corpus-wide map for a cluster-sized consumer
        val members = t(s, dir, "documents")
          .join(comp.select(col("node").as("doc_id")), Seq("doc_id"), "left_semi")
        val q = qualityOf(members).select(col("doc_id"), col("quality"))
        val w = Window.partitionBy("component")
          .orderBy(desc("quality"), asc("doc_id"))
        comp.join(q, col("node") === col("doc_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("component")))
          .filter(col("rn") === 1)
          .select(col("component"), col("n_members"),
            col("doc_id").as("survivor_doc_id"),
            col("quality").as("survivor_quality"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE $duckSimhashCand,
              |$duckComponents,
              |ql AS (SELECT doc_id, $duckQuality AS quality FROM documents),
              |j AS (SELECT c.component, c.doc_id, ql.quality
              |      FROM comp c JOIN ql USING (doc_id)),
              |r AS (SELECT component, doc_id, quality,
              |        row_number() OVER (PARTITION BY component
              |          ORDER BY quality DESC, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY component) AS n_members
              |      FROM j)
              |SELECT component, n_members, doc_id AS survivor_doc_id,
              |       quality AS survivor_quality
              |FROM r WHERE rn = 1 ORDER BY component""".stripMargin),
      "quality-aware dedup survivor: per-cluster argmax of the shared x27 score over x36's resolved components"),

    // ── X6r: deterministic epoch shuffle + shard export plan ──────────
    // Training-loader export: an epoch's global order must be a SEEDED
    // permutation, and on Spark that means a HASH order, not rand() —
    // rand() draws per task ATTEMPT, so a retried/speculated task
    // re-draws and two attempts of one shard disagree (silent
    // non-determinism under the exact failure model a 1000-executor
    // job lives in). okey = md5(seed:doc_id) is a pure function of the
    // row, retry-stable and engine-portable; a new epoch is a new seed
    // literal — nothing retrains, nothing re-buckets.
    //
    // Shard assignment is a SECOND independent hash mod nShards —
    // map-side, uniform in expectation, so the 100 TB export is
    // partitionBy(shard) + sortWithinPartitions(okey): the only
    // shuffle is the hash-partition by shard and the per-shard order
    // is a partition-local (spillable) sort. The shard COUNT is the
    // parallelism dial: 8 suits the spec corpus, a 100 TB export uses
    // O(10^4) shards so each shard-local sort fits one task's spill
    // budget — nothing else in the plan changes. The registered
    // result is the bounded per-shard manifest; order is pinned by a
    // DISTRIBUTIVE checksum — rn from the same shard-local sort the
    // writer performs (Window.partitionBy(shard), never global), each
    // term rn × (id-hash mod 1e6) bounded well inside BIGINT, the sum
    // carried in DECIMAL(38,0)/HUGEINT (the portable 128-bit ordinal)
    // and folded mod 1e18. Like any checksum this is a PROBABILISTIC
    // guard, and its blind spot is exact: swapping two docs with
    // EQUAL h6 (mod-1e6 collisions, ~1-in-1e6 per pair) leaves
    // sum(rn·h6) unchanged — fine for a manifest regression check,
    // not an order proof; widen h6's modulus (or fold okey into the
    // per-row term) if a stronger pin is ever needed. Every operator
    // is a map-side expression or a plain distributive aggregate.
    "x77_epoch_shards" -> Q(
      (s, dir) => epochShardManifest(s, dir, "ep1"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    md5('ep1:' || CAST(doc_id AS VARCHAR)) AS okey,
             |    CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS h6,
             |    len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |r AS (SELECT *, row_number() OVER (
             |        PARTITION BY shard ORDER BY okey, doc_id) AS rn FROM p)
             |SELECT shard, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |  max(CASE WHEN rn = 1 THEN doc_id END) AS head_doc,
             |  CAST(sum(rn * h6) % 1000000000000000000 AS BIGINT) AS order_chk
             |FROM r GROUP BY shard ORDER BY shard""".stripMargin),
      "seeded epoch shuffle + shard manifest: retry-stable hash order, map-side shard assignment, shard-local sort, distributive order checksum"),

    // ── X6s: deterministic weighted source interleave (stride sched) ──
    // The dataloader-side twin of x53's budget planner: x53 says HOW
    // MUCH of each source the mixture takes; this says IN WHAT ORDER
    // the loader draws so every prefix of the stream already carries
    // the target mixture (training sees the mix from step one, not
    // after a full pass). Stride scheduling (Waldspurger & Weihl,
    // OSDI '94): each lang's docs are ranked by a seeded hash WITHIN
    // the lang (partition-local window, never global), and doc #rn of
    // a lang with weight w is placed at virtual time rn/w — so langs
    // are drawn proportionally to weight at every horizon. All exact
    // integer arithmetic: vt = floor(rn × 1e12 / w_micro), computed
    // in the OVERFLOW-SAFE split form
    //   (rn div w)·1e12 + ((rn mod w)·1e12) div w
    // (exact identity: rn·S/w = q·S + r·S/w with q·S integral; the
    // residual numerator is < w·1e12 ≤ 4e17, inside BIGINT at ANY
    // corpus size — the naive rn·1e12 wraps past ~9M docs/lang on
    // Spark while DuckDB throws, the worst parity failure mode).
    // The prefix inspection is ORDER BY vt LIMIT 300 — a
    // TakeOrderedAndProject heap, never a global sort — and the
    // registered result is the achieved-vs-target mixture of that
    // prefix. Reproducible across runs/retries/engines for the same
    // reason as x77: the order is a pure function of (seed, doc_id).
    "x78_mixture_interleave" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = mixtureWeights.toDF("lang", "w_micro")
        val byLang = Window.partitionBy("lang")
          .orderBy(md5(concat(lit("mix:"), col("doc_id").cast("string"))), col("doc_id"))
        val sel = t(s, dir, "documents")
          .join(broadcast(w), Seq("lang"))
          .withColumn("rn", row_number().over(byLang).cast("long"))
          .withColumn("vt", expr(
            "(rn div w_micro) * 1000000000000 + ((rn % w_micro) * 1000000000000) div w_micro"))
          .orderBy(col("vt"), col("lang"), col("doc_id"))
          .limit(300)
        sel.groupBy("lang")
          .agg(count(lit(1)).as("n_drawn"),
            max("rn").as("deepest_rank"),
            pround(count(lit(1)).cast("double") / 300.0, 6).as("share_achieved"),
            // w_micro is constant per lang group — carry it through
            // the agg (the oracle's any_value) instead of re-joining
            pround(max("w_micro").cast("double") / 1000000.0, 6).as("share_target"))
          .select("lang", "n_drawn", "deepest_rank", "share_achieved", "share_target")
          .orderBy("lang")
      },
      Some(s"""WITH $duckMixtureWeights,
              |r AS (SELECT d.lang, d.doc_id, w.w_micro,
              |        row_number() OVER (PARTITION BY d.lang
              |          ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
              |      FROM documents d JOIN w USING (lang)),
              |sel AS (SELECT lang, w_micro, rn,
              |          (rn // w_micro) * 1000000000000
              |            + ((rn % w_micro) * 1000000000000) // w_micro AS vt
              |        FROM r ORDER BY vt, lang, doc_id LIMIT 300)
              |SELECT lang, count(*) AS n_drawn,
              |  CAST(max(rn) AS BIGINT) AS deepest_rank,
              |  ${duckRound("count(*) * 1.0 / 300.0", 6)} AS share_achieved,
              |  ${duckRound("any_value(w_micro) * 1.0 / 1000000.0", 6)} AS share_target
              |FROM sel GROUP BY lang ORDER BY lang""".stripMargin),
      "stride-scheduled mixture interleave: per-lang seeded ranks, integer virtual time, heap-prefix inspection — every stream prefix carries the target mix"),

    // ── X3g: random-projection compressed ANN (x80) ───────────────────
    // The dimension-reduction step the ANN family was missing: a
    // deterministic Achlioptas ±1 projection folds 64 floats to 16
    // doubles MAP-SIDE (16 fused-dot kernels per row, no shuffle, no
    // trained state, no driver state — the matrix is a hash-derived
    // literal), then the compressed-space top-k runs the x24 shape:
    // broadcast query row + TakeOrderedAndProject heap. At 100 TB this
    // is the standard pre-step before IVF/PQ training and bucketed
    // probes: 4× less vector volume through every downstream shuffle
    // and index file, with JL-bounded distortion. Compressed-space
    // scores are approximations of full-space cosine — the oracle
    // replays the identical projection+fold, so the CHECK is exact
    // while the recall story lives in LlmInvariantsSpec against x24.
    // HONEST RECALL NOTE (the x67 lesson again): the synthetic corpus
    // is near-isotropic (mean pairwise cos ≈ 0.01, top-1 ≈ 0.37), so
    // the exact top-10 sits in a ~0.09-wide band that 16-dim JL
    // distortion swamps — DIRECT compressed ranking is chance-level
    // here (recall 0.0–0.1 measured at sf0.01/sf0.001). That is the
    // adversarial case for JL (real embedding corpora concentrate on
    // a low-dim manifold); the production shape is x81's two-stage
    // re-rank: 0.7 recall at shortlist 100, 1.0 at 200 (measured).
    "x80_rp_topk" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .withColumn("rp", rpProject(col("embedding")))
        val q = e.filter(col("vec_id") === 0).select(col("rp").as("qr"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            pround(Vectors.cosine(col("rp"), col("qr")), 6).as("cos_rp"))
          .orderBy(desc("cos_rp"), asc("vec_id"))
          .limit(10)
      },
      Some(s"""WITH $duckRpChain
              |SELECT e.vec_id, ${duckRound(duckCosine("e.rp", "q.qr"), 6)} AS cos_rp
              |FROM rp e CROSS JOIN (SELECT rp AS qr FROM rp WHERE vec_id = 0) q
              |WHERE e.vec_id <> 0
              |ORDER BY cos_rp DESC, e.vec_id LIMIT 10""".stripMargin),
      "random-projection ANN: 64→16 map-side ±1 fused projection (4× smaller vectors), compressed-space top-k heap"),

    // ── X3h: RP shortlist + exact re-rank (x81, the production form) ──
    // Two-stage retrieval over the x80 projection, the exact analogue
    // of the PQ family's x73 ADC re-rank: a compressed-space
    // TakeOrderedAndProject heap cuts the corpus to a 100-row
    // shortlist (heap carries the full vector alongside, so the second
    // stage needs NO join back), then full-space cosine re-ranks the
    // shortlist to the final 10. Both cuts are rounded + vec_id
    // tie-broken, so the oracle replays the identical selection. At
    // scale: stage 1 streams 4×-smaller vectors through a per-partition
    // heap (no shuffle, no index); stage 2 touches 100 rows. Recall
    // 0.7 at M=100 / 1.0 at M=200 on the adversarially isotropic
    // synthetic corpus (x80 note) — the M dial is the recall knob.
    "x81_rp_rerank" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .withColumn("rp", rpProject(col("embedding")))
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"), col("rp").as("qr"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos_rp", pround(Vectors.cosine(col("rp"), col("qr")), 6))
          .orderBy(desc("cos_rp"), asc("vec_id"))
          .limit(100)
          .select(col("vec_id"), cosine6(col("embedding"), col("qe")).as("cos"))
          .orderBy(desc("cos"), asc("vec_id"))
          .limit(10)
      },
      Some(s"""WITH $duckRpChain,
              |short AS (
              |  SELECT e.vec_id, e.embedding,
              |    ${duckRound(duckCosine("e.rp", "q.qr"), 6)} AS cos_rp
              |  FROM rp e CROSS JOIN (SELECT rp AS qr FROM rp WHERE vec_id = 0) q
              |  WHERE e.vec_id <> 0
              |  ORDER BY cos_rp DESC, e.vec_id LIMIT 100)
              |SELECT s.vec_id, ${duckRound(duckCosine("s.embedding", "q.qe"), 6)} AS cos
              |FROM short s CROSS JOIN
              |  (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
              |ORDER BY cos DESC, s.vec_id LIMIT 10""".stripMargin),
      "RP two-stage retrieval: compressed shortlist heap (no join-back — the heap carries the vector), exact re-rank of 100 rows"),

    // ── X6u: temperature-balanced corpus sampling (x82) ───────────────
    // The third leg of the mixture family: x53 allocates against
    // EXTERNALLY-given weights, x78 orders an externally-weighted
    // stream — x82 DERIVES the weights from the corpus itself with
    // α = 0.5 temperature smoothing (w ∝ n^α, the exponentiated
    // rebalance of multilingual pretraining: XLM-R, Conneau et al.
    // 2020), boosting low-resource languages' share above proportional
    // without fully flattening the mix. Kept exactly portable by the
    // integer-weight trick: w_int = floor(sqrt(n)·1e6) — IEEE sqrt and
    // floor are correctly rounded on both engines, and from there
    // every step is integer (sum, 300·w div Σw, least(n, ·)), so no
    // double accumulation ever crosses the oracle. The draw itself is
    // the x41 idiom: content-free seeded-hash rank per lang, rn ≤
    // target. Plan: two metadata-cheap aggs (lang counts ≈ dozens of
    // rows), a broadcast target join, ONE narrow-column shuffle for
    // the per-lang rank window — no global sort. The per-group limit
    // is data-derived, so WindowGroupLimit can't pre-prune here; at
    // 100 TB the shuffle carries (lang, doc_id) pairs only, and a
    // constant upper-bound rank filter (rn ≤ max-possible-target)
    // composed BEFORE the join would restore the group-limit prune.
    "x82_temperature_sample" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val n = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val w = n.withColumn("w_int",
          floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
        val tw = w.agg(sum("w_int").as("tw"))
        val tgt = w.crossJoin(broadcast(tw))
          .withColumn("target", least(col("n_docs"), expr("(300 * w_int) div tw")))
          .select("lang", "target")
        val byLang = Window.partitionBy("lang")
          .orderBy(md5(concat(lit("temp:"), col("doc_id").cast("string"))), col("doc_id"))
        docs.select("lang", "doc_id")
          .withColumn("rn", row_number().over(byLang))
          .join(broadcast(tgt), "lang")
          .filter(col("rn") <= col("target"))
          .select("lang", "doc_id", "rn")
          .orderBy("lang", "rn")
      },
      Some("""WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
             |w AS (SELECT lang, n_docs,
             |        CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_int FROM n),
             |tot AS (SELECT CAST(sum(w_int) AS BIGINT) AS tw FROM w),
             |tgt AS (SELECT lang, least(n_docs, (300 * w_int) // tw) AS target
             |        FROM w CROSS JOIN tot),
             |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |        ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |      FROM documents)
             |SELECT r.lang, r.doc_id, r.rn
             |FROM r JOIN tgt USING (lang) WHERE r.rn <= tgt.target
             |ORDER BY r.lang, r.rn""".stripMargin),
      "temperature-balanced sampling: corpus-derived n^0.5 weights via the integer-sqrt trick, per-lang seeded-hash rank draw"),

    // ── X3i: kNN-graph construction (x83) ─────────────────────────────
    // The dataset-cartography primitive (nearest-neighbor graphs feed
    // SemDeDup-style clustering, hubness audits, and coreset picks):
    // EVERY vector's top-3 neighbors, not one query's top-k. Candidates
    // come from the x25 sign-LSH bucket EQUALITY self-join — never
    // all-pairs (the global no-cartesian sweep covers this plan too);
    // per-anchor ranking is a constant-k window, so WindowGroupLimit
    // prunes each partition to its local top-3 BEFORE the anchor
    // shuffle. Two shuffles total (bucket join, anchor window), both
    // on narrow keys. Honest LSH gap: a vector alone in its bucket
    // gets no edges — x51's hamming-1 multiprobe is the recall dial,
    // and the same widening applies here unchanged. Bucket fanout is
    // NOT fixed: the key width rides signBitsFor (2^bits ∝ N, derived
    // from the memoized corpus count, replayed by the oracle's sb
    // CTE), measured to collapse the fixed-width 15.7× slope into the
    // linear band (BASELINE.md r9).
    "x83_knn_graph" -> Q(
      (s, dir) => knnEdges(s, dir).orderBy("src", "rnk"),
      Some(s"""WITH $duckKnnEdges
              |SELECT src, rnk, nbr, cos FROM knn ORDER BY src, rnk""".stripMargin),
      "kNN-graph: LSH-bucketed equality self-join (never all-pairs), per-anchor WindowGroupLimit top-3"),

    // ── X3j: hubness audit over the kNN graph (x84) ───────────────────
    // The embedding-QA companion to x83 (Radovanović et al., JMLR '10:
    // high-dimensional spaces concentrate nearest-neighbor lists onto
    // a few "hub" points, a known failure signal for embedding-based
    // dedup/retrieval): in-degree of each vector in the top-3 graph,
    // plus the incoming-cosine mass as an exact micro-unit integer sum
    // (each edge's cos is already rounded to 1e-6, so cos·1e6 rounds
    // to an exact long on both engines — no double accumulation
    // crosses the oracle). Plan: the shared edge build, then ONE
    // narrow-key groupBy with map-side partial aggregation and a
    // TakeOrderedAndProject top-20 heap — edges are ≤ 3N rows, so the
    // audit is linear and the shuffle carries (nbr, partial) only.
    "x84_hub_audit" -> Q(
      (s, dir) => knnEdges(s, dir)
        .groupBy("nbr")
        .agg(count(lit(1)).as("indeg"),
          sum(round(col("cos") * 1e6).cast("long")).as("cos_micro_sum"))
        .select(col("nbr").as("vec_id"), col("indeg"), col("cos_micro_sum"))
        .orderBy(desc("indeg"), asc("vec_id"))
        .limit(20),
      Some(s"""WITH $duckKnnEdges
              |SELECT nbr AS vec_id, count(*) AS indeg,
              |  CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT)) AS BIGINT)
              |    AS cos_micro_sum
              |FROM knn GROUP BY nbr
              |ORDER BY indeg DESC, vec_id LIMIT 20""".stripMargin),
      "hubness audit: per-vector in-degree over the shared kNN graph + exact micro-unit cosine mass, top-20 hubs"),

    // ── X6v: source-overlap contamination matrix (x85) ────────────────
    // The dataset-composition audit (Dodge et al. 2021 documented C4's
    // cross-source duplication this way): how many distinct content
    // fingerprints each pair of sources SHARES. Exact form: distinct
    // (source, fp) pairs, then an fp-EQUALITY self-join — the per-fp
    // fanout is bounded by #sources² (a dimension, ~20, that does NOT
    // grow with corpus size), so the join is linear in distinct
    // fingerprints at any N. The distinct is the one wide shuffle;
    // counts and the tiny per-source totals broadcast. x86 is the
    // sketch twin that removes even that shuffle.
    "x85_source_overlap" -> Q(
      (s, dir) => {
        val fps = sourceFps(s, dir)
        val n = fps.groupBy("source").agg(count(lit(1)).as("nfp"))
        fps.as("a").join(fps.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("shared"))
          .join(broadcast(n.select(col("source").as("src_a"), col("nfp").as("n_a"))), "src_a")
          .join(broadcast(n.select(col("source").as("src_b"), col("nfp").as("n_b"))), "src_b")
          .select("src_a", "src_b", "shared", "n_a", "n_b")
          .orderBy(desc("shared"), asc("src_a"), asc("src_b"))
      },
      Some(s"""WITH $duckSourceHashRows,
              |fps AS (SELECT DISTINCT source, h FROM hh),
              |n AS (SELECT source, count(*) AS nfp FROM fps GROUP BY source),
              |ov AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
              |       FROM fps a JOIN fps b ON a.h = b.h AND a.source < b.source
              |       GROUP BY 1, 2)
              |SELECT o.src_a, o.src_b, o.shared, na.nfp AS n_a, nb.nfp AS n_b
              |FROM ov o JOIN n na ON o.src_a = na.source
              |          JOIN n nb ON o.src_b = nb.source
              |ORDER BY shared DESC, src_a, src_b""".stripMargin),
      "exact source-overlap matrix: shared distinct fingerprints per source pair via fp-equality join (fanout bounded by the source dimension)"),

    // ── X6w: per-source MinHash sketch similarity (x86) ───────────────
    // The sketch twin of x85: each source's shingle UNION compressed to
    // a 16-slot one-hash-k-permutation MinHash (the x22 affine family —
    // min distributes over union, so the per-source slot min over all
    // member docs' shingle hashes IS the union's MinHash). matches/16
    // estimates pairwise Jaccard. At 100 TB this is the form that
    // wins: per-source state is 16 longs (mergeable, map-side partial
    // min — a sketch, like x33/x55/x56), no distinct-pair shuffle at
    // all; pairs emerge from a (slot, value)-EQUALITY self-join over
    // #sources×16 rows, so only pairs with ≥1 colliding slot (est.
    // Jaccard > 0) appear — exactly the candidate semantics LSH gives
    // docs, lifted to sources.
    "x86_source_minhash_sim" -> Q(
      (s, dir) => {
        val mins = (0 until 16).map(i =>
          min((col("h") * lit(Text.affineA(i)) + lit(Text.affineB(i)))
            % lit(Text.MinhashMod)).as(s"s$i"))
        val sig = sourceHashRows(s, dir)
          .groupBy("source").agg(mins.head, mins.tail: _*)
        val sl = sig.select(col("source"),
          posexplode(array((0 until 16).map(i => col(s"s$i")): _*))
            .as(Seq("slot", "v")))
        sl.as("a").join(sl.as("b"),
            col("a.slot") === col("b.slot") && col("a.v") === col("b.v") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("matches"))
          .orderBy(desc("matches"), asc("src_a"), asc("src_b"))
      },
      Some {
        val slots = (0 until 16).map(i =>
          s"min((h * ${Text.affineA(i)} + ${Text.affineB(i)}) % ${Text.MinhashMod})")
          .mkString(",\n            ")
        s"""WITH $duckSourceHashRows,
           |ssig AS (SELECT source, [$slots] AS sg
           |         FROM hh GROUP BY source),
           |ssl AS (SELECT source, p.i - 1 AS slot, sg[p.i] AS v
           |        FROM ssig CROSS JOIN (SELECT unnest(range(1, 17)) AS i) p)
           |SELECT a.source AS src_a, b.source AS src_b, count(*) AS matches
           |FROM ssl a JOIN ssl b ON a.slot = b.slot AND a.v = b.v
           |  AND a.source < b.source
           |GROUP BY 1, 2 ORDER BY matches DESC, src_a, src_b""".stripMargin
      },
      "per-source MinHash union sketch (16 mergeable slot-mins); slot-equality join estimates pairwise source Jaccard with no distinct-pair shuffle"),

    // ── X3k: IVF-cell medoid coreset (x87) ────────────────────────────
    // Cluster-representative selection (the k-center-style coreset pick
    // that diversity-aware data selection builds on): for every trained
    // IVF cell, the member closest to its centroid. The assignment's
    // best-cosine is the SAME struct the argmax already computes, so
    // the medoid pick costs one map-side expression + a per-cid top-1
    // window (WindowGroupLimit prunes partition-locally; the shuffle
    // carries K groups of one row). Registered at the literal K=16
    // like x34/x71; a corpus-derived K rides the same
    // assignedByTrainedQuantizer dispatcher (x48's K ∝ N form).
    "x87_coreset_medoids" -> Q(
      (s, dir) => {
        val scored = ivfScored(trainedCentroids(s, dir)) _
        val w = Window.partitionBy("cid").orderBy(desc("cos"), asc("vec_id"))
        t(s, dir, "embeddings")
          .withColumn("b", array_max(scored(col("embedding"))))
          .select(col("vec_id"), col("b.cid").as("cid"), col("b.ccos").as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("cid", "vec_id", "cos")
          .orderBy("cid")
      },
      Some(s"""WITH $duckIvfChain,
              |md AS (SELECT asg.cid, asg.vec_id,
              |         ${duckRound(duckCosine("asg.embedding", "c.ce"), 6)} AS cos
              |       FROM asg JOIN c2 c USING (cid))
              |SELECT cid, vec_id, cos FROM (
              |  SELECT cid, vec_id, cos, row_number() OVER (
              |    PARTITION BY cid ORDER BY cos DESC, vec_id) AS rn FROM md)
              |WHERE rn = 1 ORDER BY cid""".stripMargin),
      "per-IVF-cell medoid: map-side best-cosine reuse + per-cid top-1 window — the cluster-representative coreset pick"),

    // ── X4m: per-source quality-distribution drift (x88) ──────────────
    // The composition monitor a curation funnel runs per ingest: does
    // any source's quality HISTOGRAM diverge from the corpus-wide one
    // (a source gone bad skews low; a scraped duplicate farm skews
    // narrow)? Statistic: scaled L1 distance Σ_b |c_sb·T − C_b·n_s| in
    // EXACT integer arithmetic (the x82 trick: both engines bin the
    // identical rounded quality, then every product/sum is integral —
    // decimal/HUGEINT INTERMEDIATES never overflow; the FINAL drift is
    // cast to BIGINT, which is bounded by 2·T·n_s and therefore exact
    // through n_s·T ≤ 4.6e18 — a 1e9-doc source in a 4e9-doc corpus.
    // Past that the cast itself is the limit: emit the decimal
    // undivided, or normalize to drift/(2·T·n_s) micro-units, before
    // widening the registered contract). Unobserved bins
    // contribute C_b·n_s without a source×bin grid join:
    // Σ_unobs C_b = T − Σ_obs C_b. Plan: quality computed WITH source
    // in the one scan (no join-back), a (source, bin) micro-agg, then
    // broadcast joins of dimension-sized aggregates.
    "x88_source_quality_drift" -> Q(
      (s, dir) => {
        val cs = sourceBinCounts(t(s, dir, "documents"))
        sourceDriftAgainst(cs,
          cs.groupBy("bin").agg(sum("c").as("cb")),
          cs.agg(sum("c").as("t")))
      },
      Some(s"""WITH ql AS (SELECT source,
              |         CAST(floor(($duckQuality) * 10) AS BIGINT) AS bin
              |       FROM documents),
              |cs AS (SELECT source, bin, count(*) AS c FROM ql GROUP BY 1, 2),
              |cb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM cs GROUP BY 1),
              |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cs GROUP BY 1),
              |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS t FROM ns)
              |SELECT s.source, max(n.ns) AS n_docs,
              |  CAST(sum(abs(CAST(s.c AS HUGEINT) * tot.t
              |        - CAST(b.cb AS HUGEINT) * n.ns))
              |     + (max(tot.t) - sum(b.cb)) * CAST(max(n.ns) AS HUGEINT)
              |    AS BIGINT) AS drift
              |FROM cs s JOIN cb b USING (bin) JOIN ns n USING (source)
              |  CROSS JOIN tot
              |GROUP BY s.source ORDER BY drift DESC, source""".stripMargin),
      "per-source quality-histogram drift vs the corpus: exact-integer scaled L1, dimension-sized broadcast aggregates only"),

    // ── X6x: source coverage curve (x89) ──────────────────────────────
    // The acquisition-ordering audit: if sources are ingested
    // largest-fingerprint-set first, how much NEW content does each
    // one add? Greedy set-cover's FIRST PASS — the order is fixed by
    // set size up front, not re-derived per step (full lazy-greedy
    // re-ranks marginals each iteration: K sequential rounds at
    // 100 TB; this one-pass form is the standard screening
    // approximation and needs ONE attribution pass). Every fingerprint
    // is attributed to its best-ranked containing source via a min
    // over a broadcast rank join; marginals and the running cumulative
    // then live on dimension-sized frames (the unpartitioned windows
    // sit over ≤ #sources post-aggregation rows — the bounded-spine
    // shape the plan sweep admits). Conservation: the curve's last
    // cumulative = |distinct fps| = Σ x90 novel counts (pinned in
    // spec).
    "x89_coverage_curve" -> Q(
      (s, dir) => {
        val fps = sourceFps(s, dir)
        val n = fps.groupBy("source").agg(count(lit(1)).as("nfp"))
        val rk = n.withColumn("rk",
          row_number().over(Window.orderBy(desc("nfp"), asc("source"))))
        val contrib = fps.join(broadcast(rk.select("source", "rk")), "source")
          .groupBy("h").agg(min("rk").as("crk"))
          .groupBy("crk").agg(count(lit(1)).as("marginal"))
        val wcum = Window.orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rk.join(contrib, col("rk") === col("crk"), "left")
          .na.fill(0L, Seq("marginal"))
          .withColumn("cumulative", sum("marginal").over(wcum))
          .select("rk", "source", "nfp", "marginal", "cumulative")
          .orderBy("rk")
      },
      Some(s"""WITH $duckSourceHashRows,
              |fps AS (SELECT DISTINCT source, h FROM hh),
              |n AS (SELECT source, count(*) AS nfp FROM fps GROUP BY source),
              |rk AS (SELECT source, nfp, row_number() OVER (
              |         ORDER BY nfp DESC, source) AS rk FROM n),
              |attr AS (SELECT f.h, min(r.rk) AS crk
              |         FROM fps f JOIN rk r USING (source) GROUP BY f.h),
              |marg AS (SELECT crk, count(*) AS marginal FROM attr GROUP BY crk)
              |SELECT r.rk, r.source, r.nfp,
              |  coalesce(m.marginal, 0) AS marginal,
              |  CAST(sum(coalesce(m.marginal, 0)) OVER (
              |    ORDER BY r.rk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative
              |FROM rk r LEFT JOIN marg m ON r.rk = m.crk
              |ORDER BY r.rk""".stripMargin),
      "size-ordered coverage curve: per-source marginal new fingerprints + running cumulative (greedy set-cover first pass, one attribution pass)"),

    // ── X6y: crawl-order novelty profile (x90) ────────────────────────
    // The per-document novelty signal curriculum schedulers and
    // incremental-crawl audits read: in arrival order (doc_id), what
    // fraction of a doc's fingerprints has never been seen before?
    // First-seen attribution is min(doc_id) over a
    // fingerprint-partitioned window (no join-back — the oracle's
    // agg+join formulation is the same relation), then a per-doc
    // fold; novelty is exact integer micro-units (no double division
    // crosses the oracle). Every fingerprint is novel exactly once,
    // so Σ n_novel = |distinct fps| = x89's final cumulative — the
    // cross-family conservation the spec pins. Linear: one
    // fingerprint shuffle for the window, one doc-keyed fold.
    "x90_novelty_profile" -> Q(
      (s, dir) => {
        // first-seen via a fingerprint-partitioned window (the x92
        // trick): one scan of the pair pipeline instead of an
        // agg + join-back that evaluates it twice
        val pairs = minhashHashed(s, dir)
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .distinct()
        pairs
          .withColumn("fd", min("doc_id").over(Window.partitionBy("h")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_micro", expr("(n_novel * 1000000) div n_fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckMinhashCand,
              |pairs AS (SELECT DISTINCT doc_id, h FROM
              |            (SELECT doc_id, unnest(hs) AS h FROM hsd)),
              |f AS (SELECT h, min(doc_id) AS fd FROM pairs GROUP BY h)
              |SELECT p.doc_id, count(*) AS n_fp,
              |  CAST(sum(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_novel,
              |  (CAST(sum(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
              |    * 1000000) // count(*) AS novelty_micro
              |FROM pairs p JOIN f USING (h)
              |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),
      "crawl-order novelty: per-doc first-seen fingerprint fraction in exact micro-units; conservation with x89 pinned in spec"),

    // ── shared scrub core (x91 decontamination / x92 dup-span) ────────
    // see [[scrubWindows]] / [[positionalGrams]] below the map

    // ── X6z: span-level decontamination scrub (x91) ───────────────────
    // x39/x79 FLAG contaminated docs; x91 completes the arc (the way
    // x42 completes PII detection) by REMOVING the overlap instead of
    // dropping whole documents — the salvage path for long documents
    // that merely quote an eval item. A corpus token is contaminated
    // iff SOME positional 3-gram covering it appears in the benchmark
    // shingle set (same shingle space as x39 — flagged-doc sets are
    // provably EQUAL, pinned in spec); covered positions are the
    // 3-token windows of matched gram starts, and the cleaned text is
    // the kept tokens rejoined in position order. Only changed docs
    // are emitted. Honest single-pass caveat: removing a span makes
    // its neighbors adjacent, which can mint a NEW benchmark 3-gram —
    // production iterates scrub∘flag to a fixpoint (2-3 rounds in
    // practice); the fixpoint loop is q31's iterate-with-checkpoint
    // pattern. Plan: positional grams map-side from the one token
    // scan, x79's benchmark BLOOM planted map-side in front of the
    // confirm join (no false negatives + exact confirm ⇒ answer
    // identical with or without the filter, the x79 proof), so the
    // gram stream that reaches the join — and every operator after
    // it — carries only true matches + the fpp share; hit positions
    // exploded 3× then distinct — all joins key-equality on
    // (doc_id, pos).
    "x91_decontam_scrub" -> Q(
      (s, dir) => {
        val (bench, _) = decontamSides(s, dir)
        val docs = tokenizedDocs(s, dir, minTokens = 3)
          .filter(col("doc_id") % 50 =!= 0)
        val bf = decontamBloomFor(s, dir)
        val grams = positionalGrams(docs, 3)
        val pre =
          if (bf == null) grams // empty benchmark: confirm join is empty anyway
          else grams.filter(call_function("graft_might_contain",
            lit(bf), xxhash64(col("g"))))
        val badStarts = pre
          .join(broadcast(bench.withColumnRenamed("s", "g")), "g")
          .select("doc_id", "off")
        scrubWindows(docs, badStarts, 3)
      },
      Some(s"""WITH $duckShingles,
              |$duckBenchSet,
              |pp AS (SELECT unnest(range(1,
              |         (SELECT max(len(w)) + 1 FROM toks))) AS i),
              |grams AS (SELECT doc_id, pp.i AS start,
              |            w[pp.i] || ' ' || w[pp.i+1] || ' ' || w[pp.i+2] AS g
              |          FROM toks CROSS JOIN pp
              |          WHERE doc_id % 50 <> 0 AND len(w) >= 3
              |            AND pp.i <= len(w) - 2),
              |hits AS (SELECT DISTINCT g.doc_id, g.start + d.d AS pos
              |         FROM grams g JOIN bench b ON g.g = b.s
              |         CROSS JOIN (SELECT unnest(range(0, 3)) AS d) d),
              |tokpos AS (SELECT doc_id, pp.i AS pos, w[pp.i] AS tok
              |           FROM toks CROSS JOIN pp
              |           WHERE doc_id % 50 <> 0 AND len(w) >= 3
              |             AND pp.i <= len(w)),
              |flag AS (SELECT t.doc_id, t.pos, t.tok,
              |           h.pos IS NOT NULL AS hit
              |         FROM tokpos t LEFT JOIN hits h
              |           ON t.doc_id = h.doc_id AND t.pos = h.pos)
              |SELECT doc_id, count(*) AS n_tokens,
              |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
              |  coalesce(string_agg(CASE WHEN NOT hit THEN tok END, ' '
              |    ORDER BY pos), '') AS clean_text
              |FROM flag
              |WHERE doc_id IN (SELECT doc_id FROM hits)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "span-level decontamination scrub: benchmark 3-gram windows removed, kept tokens rejoined in order — the salvage path after x39/x79 flagging"),

    // ── X6aa: cross-doc duplicate-span scrub (x92) ────────────────────
    // Exact-substring dedup with KEEP-FIRST semantics (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): a
    // positional 10-gram is removed from every doc EXCEPT the one
    // where it first occurred (min doc_id — the same first-seen
    // attribution as x90), so one copy of every span survives where a
    // symmetric rule would delete both. x49 SCORES this duplication;
    // x92 is the transform. Same scrub core as x91 — one window
    // semantics for both scrubbers. Intra-doc repeats are untouched by
    // design (the first doc IS the keeper for its own repeats; x43
    // scores those). Plan: the first-occurrence agg and the back-join
    // are both gram-keyed narrow shuffles, 1:1 per occurrence — no
    // pair join, so no hot-gram fanout and no df-cap needed (the x49
    // cap exists for its PAIR join, not this shape).
    "x92_dupspan_scrub" -> Q(
      (s, dir) => {
        val docs = tokenizedDocs(s, dir, minTokens = 10)
        // first-occurrence via a gram-partitioned window, not
        // agg+join-back: the 10-way concat over the exploded token
        // stream is the dominant cost and a self-join would evaluate
        // it twice (the two sides' exchanges don't unify)
        val wf = Window.partitionBy("g")
        val badStarts = positionalGrams(docs, 10)
          .withColumn("fd", min("doc_id").over(wf))
          .filter(col("doc_id") > col("fd"))
          .select("doc_id", "off")
        scrubWindows(docs, badStarts, 10)
      },
      Some {
        val gram10 = (0 until 10).map(d => s"w[pp.i+$d]").mkString(" || ' ' || ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |pp AS (SELECT unnest(range(1,
           |         (SELECT max(len(w)) + 1 FROM toks))) AS i),
           |grams AS (SELECT doc_id, pp.i AS start, $gram10 AS g
           |          FROM toks CROSS JOIN pp
           |          WHERE len(w) >= 10 AND pp.i <= len(w) - 9),
           |f AS (SELECT g, min(doc_id) AS fd FROM grams GROUP BY g),
           |hits AS (SELECT DISTINCT gr.doc_id, gr.start + d.d AS pos
           |         FROM grams gr JOIN f ON gr.g = f.g AND gr.doc_id > f.fd
           |         CROSS JOIN (SELECT unnest(range(0, 10)) AS d) d),
           |tokpos AS (SELECT doc_id, pp.i AS pos, w[pp.i] AS tok
           |           FROM toks CROSS JOIN pp
           |           WHERE len(w) >= 10 AND pp.i <= len(w)),
           |flag AS (SELECT t.doc_id, t.pos, t.tok,
           |           h.pos IS NOT NULL AS hit
           |         FROM tokpos t LEFT JOIN hits h
           |           ON t.doc_id = h.doc_id AND t.pos = h.pos)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |  coalesce(string_agg(CASE WHEN NOT hit THEN tok END, ' '
           |    ORDER BY pos), '') AS clean_text
           |FROM flag
           |WHERE doc_id IN (SELECT doc_id FROM hits)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "cross-doc duplicate-span scrub, keep-first: 10-gram windows removed from every doc but their first occurrence — x49's score turned into the transform"),

    // ── X6ac2: intra-document repeated-span scrub (x115) ──────────────
    // The scrub family's fourth member, closing its coverage matrix:
    // x91 removes BENCHMARK spans, x92 removes CROSS-DOC duplicate
    // spans (keep-first by doc), x95 iterates to fixpoint — and x115
    // removes WITHIN-DOC repeats (keep-first by position), the
    // boilerplate/loop artifact x43 scores but nothing yet transformed
    // (x92 leaves intra-doc repeats untouched BY DESIGN — its keeper
    // doc keeps all its own copies). A 3-gram that recurs inside one
    // document keeps its first occurrence; every later occurrence's
    // window is scrubbed through the family's ONE window-coverage and
    // keep-semantics core (scrubWindows), so all four scrubbers agree
    // on reconstruction. Scale shape: the whole repeated-gram scan is
    // ARRAY-LOCAL — the question never leaves one document, so the
    // r10 formulation's positionalGrams fanout (one row per gram
    // position, then a (doc_id, g) first-occurrence window — measured
    // as x115's entire ~4 s sf1 residual after tokStaged absorbed the
    // tokenize) is replaced by the graft_intradup_starts kernel: one
    // O(n) hash-set pass per row, zero fanout, zero shuffle before
    // the family core; ScrubKernelSpec pins kernel ≡ window on data
    // and edge cases, and the oracle (unchanged) hash-proves the
    // registered query.
    "x115_intradoc_scrub" -> Q(
      (s, dir) => {
        val docs = tokenizedDocs(s, dir, minTokens = 3)
        val badStarts = docs.select(col("doc_id"),
          explode(Text.intraDupStartsNative(col("tk"), 3)).as("off"))
        scrubWindows(docs, badStarts, 3)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |pp AS (SELECT unnest(range(1,
             |         (SELECT max(len(w)) + 1 FROM toks))) AS i),
             |grams AS (SELECT doc_id, pp.i AS start,
             |            w[pp.i] || ' ' || w[pp.i+1] || ' ' || w[pp.i+2] AS g
             |          FROM toks CROSS JOIN pp
             |          WHERE len(w) >= 3 AND pp.i <= len(w) - 2),
             |f AS (SELECT doc_id, g, min(start) AS fs FROM grams GROUP BY doc_id, g),
             |hits AS (SELECT DISTINCT gr.doc_id, gr.start + d.d AS pos
             |         FROM grams gr
             |         JOIN f ON gr.doc_id = f.doc_id AND gr.g = f.g
             |           AND gr.start > f.fs
             |         CROSS JOIN (SELECT unnest(range(0, 3)) AS d) d),
             |tokpos AS (SELECT doc_id, pp.i AS pos, w[pp.i] AS tok
             |           FROM toks CROSS JOIN pp
             |           WHERE len(w) >= 3 AND pp.i <= len(w)),
             |flag AS (SELECT t.doc_id, t.pos, t.tok,
             |           h.pos IS NOT NULL AS hit
             |         FROM tokpos t LEFT JOIN hits h
             |           ON t.doc_id = h.doc_id AND t.pos = h.pos)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  coalesce(string_agg(CASE WHEN NOT hit THEN tok END, ' '
             |    ORDER BY pos), '') AS clean_text
             |FROM flag
             |WHERE doc_id IN (SELECT doc_id FROM hits)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "intra-document repeated-span scrub, keep-first-by-position: doc-local 3-gram window (no global gram key, no hot-gram skew), shared scrub-family reconstruction core"),

    // ── X6ab: mixture-composition drift (x93) ─────────────────────────
    // The mixture family's monitoring leg: x53 plans the budget, x78
    // orders the stream, x82 derives weights — x93 watches the
    // REALIZED composition: each language's share of the corpus in
    // exact integer micro-units against the frozen training-mixture
    // targets (ONE weight definition: mixtureWeights /
    // duckMixtureWeights). Langs outside the mixture carry target 0,
    // so scope creep surfaces as drift instead of vanishing in a join.
    // Plan: one metadata-cheap lang agg, broadcast weights, single-row
    // total — dimension-sized everything. EventStream.mixtureDriftGate
    // runs the same scorer per ingest micro-batch.
    "x93_mixture_drift" -> Q(
      (s, dir) => mixtureShareDrift(t(s, dir, "documents")),
      Some(s"""WITH $duckMixtureWeights,
              |n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
              |j AS (SELECT lang, CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
              |        coalesce(w_micro, 0) AS w_micro
              |      FROM n FULL JOIN w USING (lang)),
              |sj AS (SELECT lang, n_docs, w_micro,
              |         CAST(sum(n_docs) OVER () AS BIGINT) AS t FROM j)
              |SELECT lang, n_docs,
              |  (n_docs * 1000000) // greatest(t, 1) AS share_micro, w_micro,
              |  abs((n_docs * 1000000) // greatest(t, 1) - w_micro) AS drift_micro
              |FROM sj ORDER BY drift_micro DESC, lang""".stripMargin),
      "realized-vs-target mixture composition in exact micro-units; the batch twin of the streaming mixture-drift gate"),

    // ── X6y: iterative BPE (3 full merge rounds) ──────────────────────
    // The loop x50/x61 demonstrate one unit of: pick the most frequent
    // adjacent pair, MERGE it throughout the corpus, re-count over the
    // REWRITTEN corpus, repeat. The corpus rides a sentinel-framed
    // string (every token framed by U+001F sentinels, written S here),
    // so one merge application is a plain non-overlapping left-to-right
    // string replace of `S a SS b S` → `S a b S` — the exact greedy
    // semantics of
    // Text.pairMergeCount, and bit-identical in DuckDB's replace (both
    // engines scan the ORIGINAL left to right and never re-match over
    // replaced output).
    //
    // Loop discipline (Components-style): each round's pick moves ONE
    // row to the driver (the argmax — a scalar-agg fixpoint message,
    // never data), the rewrite is a map-side expression fused into the
    // next round's scan, and each round's corpus is a memoized+
    // persisted frame (released by clearMemo; reliable checkpoints at
    // production scale) so round r+1 counts over round r's cache, not
    // a replay of the whole replace chain. K rounds = K pair-count
    // shuffles (partial-aggregated) — the canonical distributed BPE
    // shape. Ties break on (count desc, a asc, b asc); merged tokens
    // keep an interior space, so round-2 pairs can span a merge
    // ("a b", "c") — real BPE composition, replayed by the oracle's
    // chained CTEs.
    "x94_bpe_iterative" -> Q(
      (s, dir) => {
        // composes over stamped driver values only (picks + per-round
        // totals collected while each generation was live) — the merge
        // log needs NO round frame at execution time, which is what
        // lets bpeChain release generations as it walks
        val (picks, totals, _) = bpeChain(s, dir)
        import s.implicits._
        (1 to 3).map { r =>
          val (a, b, n) = picks(r - 1)
          (r.toLong, a, b, n, totals(r - 1))
        }.toDF("merge_round", "a", "b", "n_pair", "tokens_after")
          .orderBy("merge_round")
      },
      Some(s"""WITH $duckBpeChain
              |SELECT CAST(1 AS BIGINT) AS merge_round, a, b, n AS n_pair, tokens_after
              |  FROM p1 CROSS JOIN t1
              |UNION ALL SELECT CAST(2 AS BIGINT), a, b, n, tokens_after
              |  FROM p2 CROSS JOIN t2
              |UNION ALL SELECT CAST(3 AS BIGINT), a, b, n, tokens_after
              |  FROM p3 CROSS JOIN t3
              |ORDER BY merge_round""".stripMargin),
      "iterative BPE, 3 full rounds: per-round argmax pick (one driver row), sentinel-framed map-side merge apply, re-count over the rewritten corpus"),

    // ── X6z2: tokenizer coverage audit over the learned BPE (x114) ────
    // The audit that closes the induction→apply loop: after x94's 3
    // merge rounds, freeze a VOCAB BUDGET (top-24 tokens by corpus
    // frequency, ties broken lexicographically) and measure, per
    // language, the out-of-vocabulary token rate and post-merge
    // fertility (tokens per document) — the per-language cost signal
    // real tokenizers are audited on (a lang with high OOV pays
    // byte-fallback at training time). All exact integers: rates in
    // floor-divided micro-units. Plan: the staged round-3 corpus is
    // x94's memoized frame (shared via bpeChain, never recomputed);
    // one token explode feeds both the vocab top-k
    // (TakeOrderedAndProject, bounded) and the per-lang counts;
    // membership is a broadcast left join against the 24-row vocab.
    "x114_tokenizer_coverage" -> Q(
      (s, dir) => {
        val (_, _, r3) = bpeChain(s, dir)
        val tok = r3.select(col("lang"), explode(col("tk")).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("tok")).limit(24)
          .select(col("tok"), lit(1).as("in_v"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_tokens"))
          .join(r3.groupBy("lang").agg(count(lit(1)).as("n_docs")),
            Seq("lang"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("oov_tokens"),
            expr("CAST(CAST(oov_tokens AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)")
              .as("oov_micro"),
            expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)")
              .as("tpd_micro"))
          .orderBy("lang")
      },
      Some(s"""WITH $duckBpeChain,
              |tk4 AS (SELECT lang, unnest(string_split(trim(st, chr(31)),
              |          chr(31) || chr(31))) AS tok FROM r3),
              |voc AS (SELECT tok FROM (
              |          SELECT tok, count(*) AS n FROM tk4
              |          GROUP BY tok ORDER BY n DESC, tok LIMIT 24)),
              |ag AS (SELECT t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
              |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              |           AS oov_tokens
              |       FROM tk4 t LEFT JOIN voc v ON t.tok = v.tok
              |       GROUP BY t.lang),
              |dc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM r3 GROUP BY lang)
              |SELECT a.lang, d.n_docs, a.n_tokens, a.oov_tokens,
              |  CAST(CAST(a.oov_tokens AS HUGEINT) * 1000000 // a.n_tokens AS BIGINT)
              |    AS oov_micro,
              |  CAST(CAST(a.n_tokens AS HUGEINT) * 1000000 // d.n_docs AS BIGINT)
              |    AS tpd_micro
              |FROM ag a JOIN dc d USING (lang) ORDER BY a.lang""".stripMargin),
      "per-language OOV rate + fertility under the learned BPE and a frozen top-24 vocab budget: shared x94 staged corpus, one explode, broadcast vocab membership"),

    // ── X6zz: decontamination scrub to FIXPOINT (x95) ─────────────────
    // x91's honest single-pass caveat, demonstrated instead of
    // documented: removing a span makes its neighbors adjacent, which
    // can mint a NEW benchmark 3-gram — so production iterates
    // scrub∘flag until no round flags anything. Three fixed rounds
    // (the oracle replays them as chained CTEs — the q31/x94
    // fixed-round discipline; in practice the corpus is clean by
    // round 2-3 and later rounds are no-ops, which the output SHOWS).
    // The benchmark shingle set stays FROZEN from the original corpus
    // (an eval set is external — it does not shrink because the
    // corpus was scrubbed). Per round: one gram-count shuffle into
    // the broadcast benchmark join, one doc-keyed coverage agg, and a
    // map-side array rebuild (keptTokens — the ONE keep-semantics
    // definition shared with x91/x92); the corpus rides token ARRAYS
    // between rounds (no string round-trip, so an all-tokens-removed
    // doc is an empty array in both engines, not a [""] artifact).
    // PERSIST LIFECYCLE (r14 verdict #1): the prior form memoized all
    // FOUR corpus generations (c0–c3) simultaneously, and at 159
    // queries the suite-wide storage pool plausibly evicted and
    // re-derived exactly this family on the driver box (the
    // `Block rdd_* already exists` recompute signature in the r14
    // tail). Now the build is EAGER — each round's per-round scalars
    // (flagged/removed/tokens_left) are collected as soon as that
    // generation materializes, and generation r−1 is unpersisted the
    // moment generation r is live — so at most TWO corpus generations
    // are persisted at any instant, and what the memo retains across
    // invocations is only the 3-row RESULT frame (warm reruns are a
    // metadata read, not a chain replay). Output: per-round
    // flagged-doc and removed-token counts plus the surviving corpus
    // token total — the conservation identity
    // tokens_left(r) = tokens_left(r-1) − n_removed(r) is pinned in
    // spec.
    "x95_scrub_fixpoint" -> Q(
      (s, dir) => {
        SessionMemo.frame(s, "x95-rows", dir) {
          val (bench, _) = decontamSides(s, dir)
          // round 0 rides the family's ONE token staging (tokStaged);
          // the %50 corpus cut is a filter over the cached arrays
          var corpus = tokStaged(s, dir)
            .filter(col("doc_id") % 50 =!= 0)
            .select(col("doc_id"), col("tk"))
            .persist()
          val rows = (1 to 3).map { r =>
            val badStarts = positionalGrams(corpus.filter(size(col("tk")) >= 3), 3)
              .join(broadcast(bench.withColumnRenamed("s", "g")), "g")
              .select("doc_id", "off")
            // persisted so releasing generation r−1 below can never
            // force the flag join to recompute through a dead cache
            val hitPos = coveredPositions(badStarts, 3).persist()
            val prev = corpus
            corpus = prev.join(hitPos, Seq("doc_id"), "left")
              .select(col("doc_id"),
                when(col("hp").isNull, col("tk"))
                  .otherwise(keptTokens(col("tk"), col("hp"))).as("tk"))
              .persist()
            // one action materializes generation r (and hitPos through
            // its build) while r−1 is still cached; the round's scalars
            // then read caches only
            val tokensLeft = corpus
              .agg(coalesce(sum(size(col("tk")).cast("long")), lit(0L))).head.getLong(0)
            val fl = hitPos.agg(count(lit(1)),
              coalesce(sum(size(col("hp")).cast("long")), lit(0L))).head
            hitPos.unpersist(blocking = false)
            prev.unpersist(blocking = false)
            (r.toLong, fl.getLong(0), fl.getLong(1), tokensLeft)
          }
          corpus.unpersist(blocking = false)
          import s.implicits._
          rows.toDF("scrub_round", "n_flagged", "n_removed", "tokens_left")
            .persist()
        }.orderBy("scrub_round")
      },
      Some {
        def round(r: Int, prev: String) =
          s"""g$r AS (SELECT doc_id,
             |          unnest(list_transform(range(1, len(w) - 1), i -> i)) AS start,
             |          unnest(list_transform(range(1, len(w) - 1),
             |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
             |        FROM $prev WHERE len(w) >= 3),
             |h$r AS (SELECT DISTINCT g.doc_id, g.start + d.d AS pos
             |        FROM g$r g JOIN bench b ON g.g = b.s
             |        CROSS JOIN (SELECT unnest(range(0, 3)) AS d) d),
             |s$r AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_flagged,
             |          CAST(count(*) AS BIGINT) AS n_removed FROM h$r),
             |c$r AS (SELECT c.doc_id,
             |          CASE WHEN f.doc_id IS NULL THEN c.w
             |               ELSE list_filter(c.w, (x, i) -> NOT list_contains(f.ps, i))
             |          END AS w
             |        FROM $prev c LEFT JOIN
             |          (SELECT doc_id, list(pos) AS ps FROM h$r GROUP BY doc_id) f
             |          USING (doc_id)),
             |t$r AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tokens_left FROM c$r)""".stripMargin
        s"""WITH $duckShingles,
           |$duckBenchSet,
           |c0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |       WHERE doc_id % 50 <> 0),
           |${round(1, "c0")},
           |${round(2, "c1")},
           |${round(3, "c2")}
           |SELECT CAST(1 AS BIGINT) AS scrub_round, n_flagged, n_removed, tokens_left
           |  FROM s1 CROSS JOIN t1
           |UNION ALL SELECT CAST(2 AS BIGINT), n_flagged, n_removed, tokens_left
           |  FROM s2 CROSS JOIN t2
           |UNION ALL SELECT CAST(3 AS BIGINT), n_flagged, n_removed, tokens_left
           |  FROM s3 CROSS JOIN t3
           |ORDER BY scrub_round""".stripMargin
      },
      "scrub->flag iterated to fixpoint, 3 fixed rounds: frozen benchmark set, per-round coverage agg + map-side array rebuild; later rounds provably no-ops"),

    // ── X6ab: leakage-free train/holdout split (x96) ──────────────────
    // The eval-split operation a dedup pipeline exists to enable: a
    // doc-level random split leaks — near-duplicate pairs straddle the
    // boundary and the holdout scores memorization, not generalization
    // (the contamination x39/x91 scrub AGAINST external benchmarks,
    // applied to the corpus's own eval split). The unit of assignment
    // must be the near-dup CLUSTER: x36's components over the x23
    // candidate graph, with every pair-graph-absent doc its own
    // singleton cluster, drawn by a seedless content-free hash of the
    // CLUSTER id (the x41/x64 draw discipline — deterministic,
    // order-independent, engine-portable). ~10% holdout at cluster
    // grain. Scale shape: the components loop is the already-O(log n)
    // alternating algorithm (checkpointed, scalar fixpoints); the
    // cluster map joins back doc_id-keyed (narrow, pair-graph-sized
    // side ≪ corpus); the draw is map-side arithmetic. The no-straddle
    // property is definitional — every member inherits its cluster's
    // single draw — and LlmInvariantsSpec pins it pairwise on the
    // actual candidate graph.
    "x96_leakage_split" -> Q(
      (s, dir) => {
        val comp = simhashComponents(s, dir)
          .select(col("node").as("doc_id"), col("component"))
        t(s, dir, "documents").select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("component"), col("doc_id")))
          .withColumn("h", Curation.idHash(col("cluster")))
          .select(col("doc_id"), col("cluster"),
            when(pmod(col("h"), lit(10)) === 0, lit("holdout"))
              .otherwise(lit("train")).as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $duckSimhashCand,
              |$duckComponents,
              |cl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
              |       FROM documents d LEFT JOIN comp c USING (doc_id))
              |SELECT doc_id, cluster,
              |  CASE WHEN CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)
              |              AS BIGINT) % 10 = 0
              |       THEN 'holdout' ELSE 'train' END AS split
              |FROM cl ORDER BY doc_id""".stripMargin),
      "leakage-free split: near-dup clusters drawn whole into train/holdout by a cluster-id hash — no candidate pair ever straddles the boundary"),

    // ── X6ac: mergeable histogram-sketch quantiles (x97) ──────────────
    // x54's scale path, registered with its error tolerance DECLARED:
    // exact rank-selection quantiles need a per-group sort; a fixed-
    // GRID histogram (bin = n_chars div 32 — width fixed globally, not
    // derived from the data, so bins are ADDITIVE) is the mergeable
    // form — per-shard sketches union by summing bin counts, which is
    // exactly what the map-side partial aggregation already does; no
    // sort, no per-group window over the corpus. The quantile estimate
    // is the exclusive upper edge of the first bin whose cumulative
    // count reaches rank ceil(q·n) (the SAME rank convention as x54),
    // so the true rank-q value lies inside that bin and
    // |estimate − exact| ≤ bin width — an a-priori bound carried as an
    // output column, pinned against exact x54 in spec. Everything is
    // integer arithmetic (cum·100 ≥ n·q avoids fractional ranks), so
    // the approximation ITSELF hash-matches the oracle — the
    // KMV-over-HLL lesson (x55 vs x33) applied to quantiles. The CDF
    // window runs over ≤ (max_len/32) bins per lang — dimension-sized,
    // the bounded-spine shape the plan sweep admits.
    "x97_hist_quantiles" -> Q(
      (s, dir) => {
        val byLang = Window.partitionBy("lang").orderBy("bin")
        def est(qint: Int) =
          min(when(col("cum") * 100 >= col("n") * qint, (col("bin") + 1) * 32))
        t(s, dir, "documents")
          .groupBy(col("lang"), expr("n_chars div 32").as("bin"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(byLang))
          .withColumn("n", sum("c").over(Window.partitionBy("lang")))
          .groupBy("lang")
          .agg(max(col("n")).as("n_docs"),
            est(50).as("p50_est"), est(90).as("p90_est"), est(99).as("p99_est"))
          .withColumn("err_bound", lit(32L))
          .orderBy("lang")
      },
      Some("""WITH b AS (SELECT lang, n_chars // 32 AS bin, count(*) AS c
             |           FROM documents GROUP BY 1, 2),
             |cw AS (SELECT lang, bin, c,
             |         sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             |         sum(c) OVER (PARTITION BY lang) AS n
             |       FROM b)
             |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             |  CAST(min(CASE WHEN cum * 100 >= n * 50 THEN (bin + 1) * 32 END)
             |    AS BIGINT) AS p50_est,
             |  CAST(min(CASE WHEN cum * 100 >= n * 90 THEN (bin + 1) * 32 END)
             |    AS BIGINT) AS p90_est,
             |  CAST(min(CASE WHEN cum * 100 >= n * 99 THEN (bin + 1) * 32 END)
             |    AS BIGINT) AS p99_est,
             |  CAST(32 AS BIGINT) AS err_bound
             |FROM cw GROUP BY lang ORDER BY lang""".stripMargin),
      "mergeable fixed-grid histogram quantiles: additive bins (map-side merge IS the sketch union), integer CDF selection, declared +/-32 error vs exact x54"),

    // ── X6ad: DSIR-style hashed n-gram importance weights (x98) ───────
    // Data Selection via Importance Resampling (Xie et al. 2023)
    // adapted rational: score each document by how much its hashed
    // unigram distribution looks like a curated TARGET corpus (here
    // lang='en') versus the RAW corpus. Tokens hash into 256 buckets
    // (the feature space is FIXED-size, so the bucket count tables are
    // dimension-sized no matter how large the corpus); per-bucket
    // add-one-smoothed likelihood ratio is computed in exact integer
    // milli-units — the x40 lesson (rational tf/df, no transcendental
    // in any hashed column) applied to importance weighting: the
    // paper's log-ratio sum is replaced by the centered linear-ratio
    // sum Σ (ratio_milli − 1000), which is order-equivalent for
    // near-uniform ratios and exactly replayable on both engines (ln()
    // rounds differently across libm implementations). Arithmetic
    // rides DECIMAL(38,0)/HUGEINT so the smoothed-product numerator
    // cannot overflow at any corpus size (FIXTURES §C 128-bit idiom);
    // `div` lands the milli-ratio back in BIGINT. Plan: two map-side
    // token passes (one for the 256-row count tables, one for
    // scoring), ratio table broadcast, ONE doc-keyed shuffle; the
    // totals window runs over the 256-row aggregate (bounded spine).
    "x98_dsir_weights" -> Q(
      (s, dir) => dsirScore(t(s, dir, "documents"), dsirRatioTable(s, dir))
        .orderBy(desc("score_milli"), asc("doc_id"))
        .limit(100),
      Some("""WITH tok AS (SELECT doc_id, lang,
             |         CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 256 AS b
             |       FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
             |             FROM documents)),
             |raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
             |tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY b),
             |ratio AS (SELECT r.b,
             |    CAST((CAST(coalesce(g.ct, 0) + 1 AS HUGEINT)
             |            * (sum(r.cr) OVER () + 256) * 1000)
             |      // (CAST(r.cr + 1 AS HUGEINT)
             |            * (sum(coalesce(g.ct, 0)) OVER () + 256)) AS BIGINT) AS r_milli
             |  FROM raw r LEFT JOIN tgt g USING (b))
             |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(x.r_milli - 1000) AS BIGINT) AS score_milli
             |FROM tok t JOIN ratio x USING (b)
             |GROUP BY doc_id, lang
             |ORDER BY score_milli DESC, doc_id LIMIT 100""".stripMargin),
      "DSIR-style importance weights: 256-bucket hashed unigrams, exact integer likelihood ratios, broadcast ratio join, one doc-keyed shuffle"),

    // ── X6ae: quality-rule attribution waterfall (x99) ────────────────
    // Curation observability over the x52 gate: for each Gopher rule,
    // how many documents fail it AT ALL, fail ONLY it, and are NEWLY
    // removed when rules apply in the fixed order word-count →
    // mean-word-length → stopword-min → repetition-max (the waterfall
    // tables Dolma/RefinedWeb-style curation reports publish — single
    // per-rule fail counts hide overlap, so they cannot tell you what
    // relaxing one rule would recover; n_sole is exactly that number).
    // ONE definition of the rules (Text.gopherGate, shared with x52
    // and the streaming quality monitor) evaluated in ONE corpus scan;
    // the 12 sums partial-aggregate map-side into a single row, and
    // stack() unpivots it driver-free into the 4-row report. Σ
    // n_marginal = n_docs − n_kept by construction (spec-pinned
    // against x52's keep column).
    "x99_rule_waterfall" -> Q(
      (s, dir) => {
        val g = t(s, dir, "documents")
          .withColumn("tk", Text.tokens(col("text")))
          .withColumn("g", Text.gopherGate(col("tk")))
          .select(
            (!col("g.n_words").between(20, 400)).as("f1"),
            (col("g.mean_wlen") < 3.0 || col("g.mean_wlen") > 10.0).as("f2"),
            (col("g.n_stop") < 2).as("f3"),
            (col("g.rep_frac") > 0.2).as("f4"))
        def n(c: Column) = sum(c.cast("long"))
        g.agg(
            n(col("f1")).as("n1"), n(col("f2")).as("n2"),
            n(col("f3")).as("n3"), n(col("f4")).as("n4"),
            n(col("f1") && !col("f2") && !col("f3") && !col("f4")).as("s1"),
            n(!col("f1") && col("f2") && !col("f3") && !col("f4")).as("s2"),
            n(!col("f1") && !col("f2") && col("f3") && !col("f4")).as("s3"),
            n(!col("f1") && !col("f2") && !col("f3") && col("f4")).as("s4"),
            n(!col("f1") && col("f2")).as("m2"),
            n(!col("f1") && !col("f2") && col("f3")).as("m3"),
            n(!col("f1") && !col("f2") && !col("f3") && col("f4")).as("m4"))
          .selectExpr(
            "stack(4, " +
              "1, 'word_count', n1, s1, n1, " +
              "2, 'mean_word_len', n2, s2, m2, " +
              "3, 'stopword_min', n3, s3, m3, " +
              "4, 'repetition_max', n4, s4, m4) " +
              "AS (ord, rule, n_fail, n_sole, n_marginal)")
          .orderBy("ord")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |m AS (SELECT doc_id, len(w) AS n_words,
              |    ${duckRound("list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w)", 6)}
              |      AS mean_wlen,
              |    len(list_filter(w, t ->
              |      list_contains(['the','a','of','and','to','in','is','on'], t))) AS n_stop,
              |    ${duckRound(
                     "list_max(list_transform(list_distinct(w), " +
                       "t -> len(list_filter(w, x -> x = t)))) * 1.0 / len(w)", 6)}
              |      AS rep_frac
              |  FROM toks),
              |fl AS (SELECT NOT (n_words BETWEEN 20 AND 400) AS f1,
              |         (mean_wlen < 3.0 OR mean_wlen > 10.0) AS f2,
              |         n_stop < 2 AS f3, rep_frac > 0.2 AS f4
              |       FROM m),
              |ag AS (SELECT
              |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
              |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
              |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
              |    CAST(sum(CASE WHEN f1 AND NOT f2 AND NOT f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
              |    CAST(sum(CASE WHEN NOT f1 AND f2 AND NOT f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
              |    CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
              |    CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
              |    CAST(sum(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
              |    CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
              |    CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS m4
              |  FROM fl)
              |SELECT 1 AS ord, 'word_count' AS rule, n1 AS n_fail, s1 AS n_sole, n1 AS n_marginal FROM ag
              |UNION ALL SELECT 2, 'mean_word_len', n2, s2, m2 FROM ag
              |UNION ALL SELECT 3, 'stopword_min', n3, s3, m3 FROM ag
              |UNION ALL SELECT 4, 'repetition_max', n4, s4, m4 FROM ag
              |ORDER BY ord""".stripMargin),
      "rule-attribution waterfall: per-rule fail / sole-fail / ordered marginal removal from one scan of the x52 gate definitions"),

    // ── X6af: incremental batch-vs-corpus dedup (x100) ────────────────
    // The continuous-crawl ingestion shape: dedup a NEW batch (10% of
    // docs drawn by the seedless md5(doc_id) hash) against the
    // EXISTING corpus (the other 90%) without ever comparing corpus
    // docs to each other — re-running x20/x22 over corpus ∪ batch
    // re-pays the whole corpus every ingest, which at 100 TB is the
    // difference between an hourly ingest and an impossible one. Exact
    // tier: semi join of batch content digests against the corpus
    // digest set (shuffle keyed on the digest, corpus side is what a
    // real deployment persists as the fingerprint index). Near tier:
    // the x22 candidate generator + confirm (ONE definition —
    // minhashConfirm — so batch-vs-corpus candidacy can never drift
    // from the registered pair query), restricted to CROSS-split pairs
    // after candidacy: corpus-internal pairs never confirm. Verdict
    // precedence exact_dup > near_dup > new. x101 registers the
    // persisted bucketed band-key index + zero-shuffle probe this
    // query's corpus side stands for.
    "x100_incremental_dedup" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("is_batch", ingestIsBatch)
        val corpusFp = docs.filter(!col("is_batch"))
          .select(md5(col("text")).as("fp")).distinct()
        val batch = docs.filter(col("is_batch"))
        val exact = batch
          .join(corpusFp, md5(col("text")) === col("fp"), "left_semi")
          .select(col("doc_id")).withColumn("is_exact", lit(true))
        val flags = docs.select(col("doc_id"), col("is_batch"))
        val near = minhashConfirm(s, dir)
          .withColumn("jaccard",
            pround(col("inter") /
              (size(col("sha")) + size(col("shb")) - col("inter")), 6))
          .filter(col("jaccard") >= 0.8)
          .join(flags.toDF("doc_a", "ba"), "doc_a")
          .join(flags.toDF("doc_b", "bb"), "doc_b")
          .filter(col("ba") =!= col("bb"))
          .select(when(col("ba"), col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
          .distinct()
          .withColumn("is_near", lit(true))
        batch.select("doc_id")
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(coalesce(col("is_exact"), lit(false)), lit("exact_dup"))
              .when(coalesce(col("is_near"), lit(false)), lit("near_dup"))
              .otherwise(lit("new")).as("verdict"))
          .orderBy("doc_id")
      },
      Some(duckIncrementalDedup),
      "incremental ingest dedup: batch probes the corpus digest set (exact) and the x22 band graph cross-split only (near) — corpus never re-compared to itself"),

    // ── X6ag: persisted dedup-index probe (x101) ──────────────────────
    // The index-build/query split x100's corpus side stands for, made
    // literal — the same move x72/x71 register for ANN. The corpus's
    // dedup state persists as three bucketed catalog tables, built
    // ONCE per (session × corpus generation): content digests
    // (bucketed on fp), band keys (bucketed on bk, from bandRows — the
    // SAME key definition as the pair generator), and shingle sets
    // (bucketed on doc_id, for the confirm stage). The registered
    // query is the PROBE ONLY: the batch hashes map-side, its bands
    // and digests shuffle INTO the index's bucket layout, and the
    // corpus-side scans plan with ZERO Exchange above them — at 100 TB
    // the index tables are the only corpus-derived bytes an ingest
    // ever reads, and nothing re-shuffles them per batch
    // (PlanAuditSpec pins that: no hashpartitioning Exchange contains
    // an index scan). Growth rides graft.io.Bucketing.appendBucketed +
    // compact, the same maintenance story as the x74 index. Verdicts
    // are definitionally x100's (same draw, same band keys, same
    // confirm threshold); the oracle is the shared twin.
    "x101_dedup_index_probe" -> Q(
      (s, dir) => {
        val (fpT, bandT, sigT) = dedupIndexTables(s, dir)
        indexProbeVerdicts(s,
          t(s, dir, "documents").filter(ingestIsBatch),
          minhashHashed(s, dir).filter(ingestIsBatch),
          fpT, bandT, sigT)
      },
      Some(duckIncrementalDedup),
      "persisted dedup index: bucketed digest/band/shingle catalog tables built once; the ingest probe never re-shuffles a corpus byte"),

    // ── X6ah: corpus-shrinkage pipeline funnel (x102) ─────────────────
    // The corpus-LEVEL waterfall every curation report publishes
    // (x99's doc-grain attribution lifted to the pipeline): stages
    // applied in the canonical order exact dedup → near-dup clusters →
    // decontamination → quality gate, each row reporting the stage's
    // MARGINAL doc/token removals and the running corpus size after
    // it. Every stage predicate is the registered operator's own rule,
    // not a re-derivation: f1 = not x20's min-doc_id keeper (window
    // over the content digest), f2 = x36's cluster non-survivor (the
    // same components over the same simhash pair graph), f3 = x39's
    // decontamination flag (same benchmark/corpus split and shingle
    // join), f4 = not x52's Gopher keep (Text.gopherGate) — so the
    // funnel can never disagree with the operators it summarizes
    // (spec-pinned against all four). One flags frame, one global
    // aggregate, stack() unpivot; the heavy inputs (components loop,
    // contamination join) are the stages' own costs, shared
    // definitions and all.
    "x102_pipeline_funnel" -> Q(
      (s, dir) => {
        // every heavy input is a SHARED memoized staging (r15 verdict
        // #3: the funnel used to re-derive all four families' frames):
        // components from simhashComponents, token arrays from
        // tokStaged (n_tok and the Gopher gate both read the staged
        // arrays — no re-tokenize), and the exact-dup keeper window
        // runs over a NARROW (doc_id, fp) projection so the md5
        // shuffle carries ~24 bytes/row instead of the text payload
        val wFp = Window.partitionBy("fp")
        val f1df = t(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .withColumn("f1", col("doc_id") =!= min("doc_id").over(wFp))
          .select("doc_id", "f1")
        val comp = simhashComponents(s, dir)
          .select(col("node").as("doc_id"), col("component"))
        val (bench, corpus) = decontamSides(s, dir)
        val contam = corpus.join(broadcast(bench), "s")
          .select("doc_id").distinct().withColumn("hit", lit(true))
        val flags = tokStaged(s, dir)
          .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
            (!Text.gopherGate(col("tk")).getField("keep")).as("f4"))
          .join(f1df, "doc_id")
          .join(comp, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .withColumn("f2",
            col("component").isNotNull && col("component") =!= col("doc_id"))
          .withColumn("f3", coalesce(col("hit"), lit(false)))
          .select("doc_id", "n_tok", "f1", "f2", "f3", "f4")
        val m1 = col("f1")
        val m2 = !col("f1") && col("f2")
        val m3 = !col("f1") && !col("f2") && col("f3")
        val m4 = !col("f1") && !col("f2") && !col("f3") && col("f4")
        def dsum(c: Column) = sum(when(c, 1L).otherwise(0L))
        def tsum(c: Column) = sum(when(c, col("n_tok")).otherwise(0L))
        flags.agg(
            count(lit(1)).as("n"), sum("n_tok").as("tt"),
            dsum(m1).as("d1"), tsum(m1).as("t1"),
            dsum(m2).as("d2"), tsum(m2).as("t2"),
            dsum(m3).as("d3"), tsum(m3).as("t3"),
            dsum(m4).as("d4"), tsum(m4).as("t4"))
          .selectExpr(
            "stack(4, " +
              "1, 'exact_dup', d1, t1, n - d1, tt - t1, " +
              "2, 'near_dup', d2, t2, n - d1 - d2, tt - t1 - t2, " +
              "3, 'decontam', d3, t3, n - d1 - d2 - d3, tt - t1 - t2 - t3, " +
              "4, 'quality', d4, t4, n - d1 - d2 - d3 - d4, " +
              "tt - t1 - t2 - t3 - t4) " +
              "AS (ord, stage, docs_removed, tokens_removed, docs_left, tokens_left)")
          .orderBy("ord")
      },
      Some(s"""WITH RECURSIVE $duckSimhashCand,
              |$duckComponents,
              |kp AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              |         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS f1
              |       FROM documents),
              |cont AS (SELECT DISTINCT c.doc_id
              |         FROM (SELECT doc_id, unnest(sh) AS s FROM shs
              |               WHERE doc_id % 50 <> 0) c
              |         JOIN (SELECT DISTINCT unnest(sh) AS s FROM shs
              |               WHERE doc_id % 50 = 0) b USING (s)),
              |gm AS (SELECT doc_id, len(w) AS n_words,
              |    ${duckRound("list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w)", 6)}
              |      AS mean_wlen,
              |    len(list_filter(w, t ->
              |      list_contains(['the','a','of','and','to','in','is','on'], t))) AS n_stop,
              |    ${duckRound(
                     "list_max(list_transform(list_distinct(w), " +
                       "t -> len(list_filter(w, x -> x = t)))) * 1.0 / len(w)", 6)}
              |      AS rep_frac
              |  FROM toks),
              |fla AS (SELECT k.doc_id, k.n_tok, k.f1,
              |         c.component IS NOT NULL AND c.component <> k.doc_id AS f2,
              |         ct.doc_id IS NOT NULL AS f3,
              |         NOT (g.n_words BETWEEN 20 AND 400
              |              AND g.mean_wlen >= 3.0 AND g.mean_wlen <= 10.0
              |              AND g.n_stop >= 2 AND g.rep_frac <= 0.2) AS f4
              |       FROM kp k
              |       LEFT JOIN comp c ON c.doc_id = k.doc_id
              |       LEFT JOIN cont ct ON ct.doc_id = k.doc_id
              |       JOIN gm g ON g.doc_id = k.doc_id),
              |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(n_tok) AS BIGINT) AS tt,
              |         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
              |         CAST(sum(CASE WHEN f1 THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
              |         CAST(sum(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
              |         CAST(sum(CASE WHEN NOT f1 AND f2 THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
              |         CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
              |         CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
              |         CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
              |         CAST(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN n_tok ELSE 0 END) AS BIGINT) AS t4
              |       FROM fla)
              |SELECT 1 AS ord, 'exact_dup' AS stage, d1 AS docs_removed,
              |       t1 AS tokens_removed, n - d1 AS docs_left, tt - t1 AS tokens_left FROM ag
              |UNION ALL SELECT 2, 'near_dup', d2, t2, n - d1 - d2, tt - t1 - t2 FROM ag
              |UNION ALL SELECT 3, 'decontam', d3, t3, n - d1 - d2 - d3, tt - t1 - t2 - t3 FROM ag
              |UNION ALL SELECT 4, 'quality', d4, t4, n - d1 - d2 - d3 - d4,
              |       tt - t1 - t2 - t3 - t4 FROM ag
              |ORDER BY ord""".stripMargin),
      "corpus-shrinkage funnel: stage-ordered marginal doc/token removals and running corpus size, every stage its registered operator's own rule"),

    // ── X6ai: batched ANN — the multi-query serving shape (x103) ──────
    // x24 retrieves for ONE broadcast query vector; a serving or
    // hard-negative-mining pass retrieves for a whole query SET in one
    // corpus scan. The query set (every 100th vector) broadcasts as a
    // K-row frame — the sanctioned crossJoin class — scoring is
    // map-side (fused-dot cosine per (corpus, query) pair), and the
    // per-query top-5 rides the rank-filter that plans as
    // WindowGroupLimit (per-partition per-group heaps BEFORE the
    // q_id shuffle, the x41 shape): one corpus scan serves all K
    // queries, and nothing global ever sorts. At 100 TB this is the
    // batch-retrieval contract: scan cost amortizes over the query
    // batch, K rides the broadcast threshold, and a larger K moves to
    // the x71-style bucketed index probes this query's brute-force
    // tier calibrates. The query batch is FIXED-size (vec_id < 2000,
    // ≤ 20 queries) — the corpus-dial lesson INVERTED: x48/x83 tie
    // their dials to N because their work is corpus-internal, but a
    // serving batch is external demand, and letting it scale with the
    // corpus made the scan × batch product quadratic (measured 15×
    // warm at 10× data before the cap; ~linear after).
    "x103_batch_ann" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val isQuery = col("vec_id") % 100 === 0 && col("vec_id") < 2000
        val qs = e.filter(isQuery)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
        e.filter(!isQuery)
          .crossJoin(broadcast(qs))
          .select(col("q_id"), col("vec_id"),
            cosine6(col("embedding"), col("qe")).as("cos"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select("q_id", "rnk", "vec_id", "cos")
          .orderBy("q_id", "rnk")
      },
      Some(s"""WITH qs AS (SELECT vec_id AS q_id, embedding AS qe
              |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
              |sc AS (SELECT q.q_id, e.vec_id,
              |         ${duckRound(duckCosine("e.embedding", "q.qe"), 6)} AS cos
              |       FROM embeddings e CROSS JOIN qs q
              |       WHERE NOT (e.vec_id % 100 = 0 AND e.vec_id < 2000))
              |SELECT q_id, rnk, vec_id, cos FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM sc)
              |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
      "batched ANN: K-row query set broadcast over one corpus scan, map-side fused-dot scoring, per-query WindowGroupLimit heaps"),

    // ── X6aj: BM25 lexical retrieval (x104) ───────────────────────────
    // The OTHER retrieval modality a data pipeline serves: keyword
    // relevance (Robertson-Spärck Jones BM25, public since 1994),
    // complementing the x24/x103 dense-cosine family. Scoring is the
    // standard BM25 with k1=1.2, b=0.75, made ENGINE-EXACT the x98
    // way: both rationals clear to integers when numerator and
    // denominator are multiplied by 10·Σdl (0.3→3·Σdl, 0.9·dl/avgdl→
    // 9·N·dl with avgdl=Σdl/N), and the paper's ln-IDF — libm rounding
    // is not cross-engine stable — becomes the rational (N−df+1)/(df+1)
    // (the x40/x98 no-transcendentals precedent; monotone in df, which
    // is all a ranker needs). Per-term score lands in integer
    // micro-units via DECIMAL(38,0)/HUGEINT floor division, so the
    // per-doc SUM and the final ranking hash-match the oracle exactly.
    "x104_bm25_topk" -> Q(
      (s, dir) => bm25TopK(s, dir, 20),
      Some(duckBm25TopK(20)),
      "BM25 lexical retrieval: rational integer-exact scoring (micro-units), corpus scalars broadcast, one doc-keyed shuffle, top-k heap"),

    // ── X6ak: RRF hybrid retrieval fusion (x105) ──────────────────────
    // Fuses the two retrieval modalities the registry now carries —
    // x104's lexical BM25 list and x24's dense cosine list — by
    // Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009):
    // score(d) = Σ 1/(60+rank_i(d)), integer-exact as floor
    // (1e6/(60+rank)) so the fused ordering hash-matches. RRF operates
    // on the RETRIEVED lists (two 50-row heaps), never the corpus: the
    // rank windows ride GlobalLimit inputs (bounded, sweep-clean) and
    // the fusion is a full-outer join of two dimension-sized frames —
    // a doc found by one modality only keeps its one contribution
    // (absent rank prints 0 and contributes nothing). doc_id/vec_id
    // align by construction of the corpus (FIXTURES.md §A: both
    // tables share one dense 0..N−1 id space; id 0 is the query
    // anchor in both modalities and is excluded by both retrievers).
    "x105_rrf_fusion" -> Q(
      (s, dir) => {
        val wl = Window.orderBy(desc("bm25_micro"), asc("doc_id"))
        val lex = bm25TopK(s, dir, 50)
          .withColumn("lex_rank", row_number().over(wl))
          .select(col("doc_id").as("id"), col("lex_rank"))
        val wd = Window.orderBy(desc("cos"), asc("vec_id"))
        val dense = annExactTopK(s, dir, 50)
          .withColumn("dense_rank", row_number().over(wd))
          .select(col("vec_id").as("id"), col("dense_rank"))
        lex.join(dense, Seq("id"), "full_outer")
          .na.fill(0, Seq("lex_rank", "dense_rank"))
          .withColumn("rrf_micro", expr(
            "CAST((CASE WHEN lex_rank > 0 THEN 1000000 div (60 + lex_rank) ELSE 0 END) + " +
              "(CASE WHEN dense_rank > 0 THEN 1000000 div (60 + dense_rank) ELSE 0 END) AS BIGINT)"))
          .orderBy(desc("rrf_micro"), asc("id"))
          .limit(10)
          .select("id", "lex_rank", "dense_rank", "rrf_micro")
      },
      Some(s"""WITH lexk AS (${duckBm25TopK(50)}),
              |lexr AS (SELECT doc_id AS id, CAST(row_number() OVER (
              |           ORDER BY bm25_micro DESC, doc_id) AS INTEGER) AS lex_rank
              |         FROM lexk),
              |denk AS (${duckExactTopK(50)}),
              |denr AS (SELECT vec_id AS id, CAST(row_number() OVER (
              |           ORDER BY cos DESC, vec_id) AS INTEGER) AS dense_rank
              |         FROM denk),
              |fu AS (SELECT coalesce(l.id, d.id) AS id,
              |         coalesce(l.lex_rank, 0) AS lex_rank,
              |         coalesce(d.dense_rank, 0) AS dense_rank
              |       FROM lexr l FULL OUTER JOIN denr d ON l.id = d.id)
              |SELECT id, lex_rank, dense_rank,
              |  CAST((CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank) ELSE 0 END) +
              |       (CASE WHEN dense_rank > 0 THEN 1000000 // (60 + dense_rank) ELSE 0 END)
              |    AS BIGINT) AS rrf_micro
              |FROM fu ORDER BY rrf_micro DESC, id LIMIT 10""".stripMargin),
      "RRF hybrid fusion: BM25 + dense-cosine top-50 heaps full-outer joined, integer reciprocal-rank scores, dimension-sized throughout"),

    // ── X6al: metadata-filtered ANN (x106) ────────────────────────────
    // Filtered vector search — the serving shape where a label/tenant/
    // language predicate restricts the candidate set. The ORDER here is
    // the whole operator: PRE-filter then score (the predicate reaches
    // the parquet scan as a pushed filter, so a 100 TB corpus prunes
    // row groups before a single dot product runs, and the heap always
    // returns k true results), never score-then-post-filter (which
    // under-fills k whenever fewer than k of the global top survive
    // the predicate — a recall bug, not a perf choice). Same broadcast
    // query vector + fused-dot + TakeOrderedAndProject spine as x24;
    // PlanAuditSpec pins the pushed label filter.
    "x106_filtered_ann" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        e.filter(col("vec_id") =!= 0 && col("label").isin(2, 5))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
            cosine6(col("embedding"), col("qe")).as("cos"))
          .orderBy(desc("cos"), asc("vec_id"))
          .limit(10)
      },
      Some(s"""SELECT e.vec_id, e.label,
              |  ${duckRound(duckCosine("e.embedding", "q.qe"), 6)} AS cos
              |FROM embeddings e CROSS JOIN
              |  (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
              |WHERE e.vec_id <> 0 AND e.label IN (2, 5)
              |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin),
      "metadata-filtered ANN: predicate pushed to the scan BEFORE scoring (full-k recall), broadcast query vector, top-k heap"),

    // ── X6am: token-budget selection under importance weights (x107) ──
    // The decision x98 exists to feed: "spend a 10%-of-corpus token
    // budget on the highest-importance documents" — greedy best-first
    // by (score_milli DESC, doc_id), a doc is selected iff the running
    // token total through it fits the budget. The running total is an
    // EXACT GLOBAL cumulative sum computed without a global sort (the
    // q39 treatment): sample-cut score bins partition the corpus
    // map-side, per-bin token totals come back as ≤ 33 bounded values,
    // their descending-bin prefix sums become a literal offset
    // expression, and the intra-bin cumsum is a bin-PARTITIONED window.
    // Equal scores can never straddle a bin (cuts compare >=), so
    // bin-desc-then-intra order IS the global order, and the result is
    // cut-invariant — approxQuantile only balances partitions. Budget
    // = Σtokens div 10, one broadcast scalar row.
    "x107_token_budget_select" -> Q(
      (s, dir) => {
        val scp = SessionMemo.frame(s, "x107-score", dir) {
          dsirScore(t(s, dir, "documents"), dsirRatioTable(s, dir))
            .select("doc_id", "lang", "n_tokens", "score_milli")
            .persist()
        }
        val tot = scp.agg(expr(
          "CAST(sum(n_tokens) div 10 AS BIGINT)").as("budget"))
        val cuts = scp.stat.approxQuantile("score_milli",
          (1 until 32).map(_ / 32.0).toArray, 0.01).distinct.sorted
        val binExpr = cuts.foldLeft(lit(0)) { (acc, c) =>
          acc + when(col("score_milli") >= lit(c), 1).otherwise(0) }
        val binned = scp.withColumn("bin", binExpr)
        val binTok = binned.groupBy("bin").agg(sum("n_tokens").as("bt"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
        val offsets = binTok.scanLeft(0 -> 0L) {
          case ((_, acc), (b, bt)) => b -> (acc + bt) }
        val offExpr = binTok.zip(offsets).foldLeft(lit(0L)) {
          case (acc, ((b, _), (_, off))) =>
            when(col("bin") === b, off).otherwise(acc) }
        val w = Window.partitionBy("bin")
          .orderBy(desc("score_milli"), asc("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        binned
          .withColumn("cum", offExpr + sum("n_tokens").over(w))
          .crossJoin(broadcast(tot))
          .filter(col("cum") <= col("budget"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sel"), sum("n_tokens").as("tok_sel"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
             |         CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 256 AS b
             |       FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
             |             FROM documents)),
             |raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
             |tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY b),
             |ratio AS (SELECT r.b,
             |    CAST((CAST(coalesce(g.ct, 0) + 1 AS HUGEINT)
             |            * (sum(r.cr) OVER () + 256) * 1000)
             |      // (CAST(r.cr + 1 AS HUGEINT)
             |            * (sum(coalesce(g.ct, 0)) OVER () + 256)) AS BIGINT) AS r_milli
             |  FROM raw r LEFT JOIN tgt g USING (b)),
             |sc AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
             |         CAST(sum(x.r_milli - 1000) AS BIGINT) AS score_milli
             |       FROM tok t JOIN ratio x USING (b) GROUP BY doc_id, lang),
             |bud AS (SELECT CAST(sum(n_tokens) // 10 AS BIGINT) AS budget FROM sc),
             |r AS (SELECT *, sum(n_tokens) OVER (ORDER BY score_milli DESC, doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM sc)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
             |  CAST(sum(n_tokens) AS BIGINT) AS tok_sel
             |FROM r CROSS JOIN bud WHERE cum <= budget
             |GROUP BY lang ORDER BY lang""".stripMargin),
      "token-budget selection: greedy best-first under x98 weights, exact global cumsum via sample-cut bins + literal offsets (no global sort)"),

    // ── X6an: hard-negative mining (x108) ─────────────────────────────
    // Contrastive-training data: for each anchor of the x103 serving
    // batch, the 3 most-similar embeddings with a DIFFERENT label —
    // similarity-ranked ("hard") negatives, versus x45's random
    // negatives. The label-inequality predicate is map-side against
    // the broadcast anchor batch (never a shuffle key), so the spine
    // stays x103's: fixed-size anchor frame broadcast over ONE corpus
    // scan, fused-dot cosines, per-anchor WindowGroupLimit heaps.
    "x108_hard_negatives" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val isAnchor = col("vec_id") % 100 === 0 && col("vec_id") < 2000
        val anchors = e.filter(isAnchor)
          .select(col("vec_id").as("a_id"), col("embedding").as("ae"),
            col("label").as("a_label"))
        val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("vec_id"))
        e.filter(!isAnchor)
          .crossJoin(broadcast(anchors))
          .filter(col("label") =!= col("a_label"))
          .select(col("a_id"), col("vec_id"), col("label"),
            cosine6(col("embedding"), col("ae")).as("cos"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("a_id", "rnk", "vec_id", "label", "cos")
          .orderBy("a_id", "rnk")
      },
      Some(s"""WITH an AS (SELECT vec_id AS a_id, embedding AS ae, label AS a_label
              |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
              |sc AS (SELECT a.a_id, e.vec_id, e.label,
              |         ${duckRound(duckCosine("e.embedding", "a.ae"), 6)} AS cos
              |       FROM embeddings e CROSS JOIN an a
              |       WHERE NOT (e.vec_id % 100 = 0 AND e.vec_id < 2000)
              |         AND e.label <> a.a_label)
              |SELECT a_id, rnk, vec_id, label, cos FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY a_id ORDER BY cos DESC, vec_id) AS rnk FROM sc)
              |WHERE rnk <= 3 ORDER BY a_id, rnk""".stripMargin),
      "hard-negative mining: anchor batch broadcast, label-mismatch filter map-side, per-anchor top-3 similarity heaps over one corpus scan"),

    // ── X6ao: embedding-space centroid audit (x109) ───────────────────
    // Class-separation diagnostics for an embedding table: the pairwise
    // cosine matrix of per-label centroids (x88 audits TEXT-quality
    // drift across sources; this audits the VECTOR space across
    // labels). The float-accumulation-order trap is dodged at the
    // root: components land in integer micro-units map-side
    // (round(v·1e6), the sumCents idiom), the per-(label, dim) SUM is
    // exact, and cos(mean_a, mean_b) ≡ cos(sum_a, sum_b) — the 1/n
    // factors cancel — so no division ever touches an accumulator.
    // The only float ops run on exact integers in an identical
    // expression (IEEE-deterministic both engines). Shape: one scan,
    // posexplode map-side, a labels×64-row aggregate, pairwise join on
    // dim over the dimension-sized sums; products on DECIMAL(38,0)/
    // HUGEINT (Σ sa·sb at corpus scale exceeds int64).
    "x109_centroid_drift" -> Q(
      (s, dir) => {
        val sums = embMicro(t(s, dir, "embeddings"))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("vm")).as("sm"))
        val a = sums.select(col("label").as("la"), col("dim"), col("sm").as("sa"))
        val b = sums.select(col("label").as("lb"), col("dim"), col("sm").as("sb"))
        a.join(b, "dim").filter(col("la") < col("lb"))
          .groupBy("la", "lb")
          .agg(
            expr("CAST(sum(CAST(sa AS DECIMAL(38,0)) * sb) AS DOUBLE)").as("dot"),
            expr("CAST(sum(CAST(sa AS DECIMAL(38,0)) * sa) AS DOUBLE)").as("na"),
            expr("CAST(sum(CAST(sb AS DECIMAL(38,0)) * sb) AS DOUBLE)").as("nb"))
          .select(col("la"), col("lb"),
            pround(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos"))
          .orderBy("la", "lb")
      },
      Some(s"""WITH ex AS (SELECT label, i AS dim,
              |         CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
              |           * 1000000, 0) AS BIGINT) AS m
              |       FROM embeddings, range(64) t(i)),
              |s AS (SELECT label, dim, CAST(sum(m) AS BIGINT) AS sm
              |      FROM ex GROUP BY label, dim),
              |p AS (SELECT a.label AS la, b.label AS lb,
              |        CAST(sum(CAST(a.sm AS HUGEINT) * b.sm) AS DOUBLE) AS dot,
              |        CAST(sum(CAST(a.sm AS HUGEINT) * a.sm) AS DOUBLE) AS na,
              |        CAST(sum(CAST(b.sm AS HUGEINT) * b.sm) AS DOUBLE) AS nb
              |      FROM s a JOIN s b USING (dim) WHERE a.label < b.label
              |      GROUP BY a.label, b.label)
              |SELECT la, lb, ${duckRound("dot / (sqrt(na) * sqrt(nb))", 6)} AS cos
              |FROM p ORDER BY la, lb""".stripMargin),
      "embedding-space class audit: integer micro-unit centroid sums (1/n cancels in cosine), dimension-sized pairwise matrix, one scan"),

    // ── X6ap: nearest-centroid assignment confusion (x116) ────────────
    // The purity leg of the embedding-space audit family: x109 asks
    // "how far apart are the label centroids"; x116 asks "do the
    // vectors actually BELONG to their label's centroid" — every
    // embedding is assigned to its nearest label centroid by cosine
    // and the label×assigned confusion matrix is the output (the
    // class-separation diagnostic a curation pipeline gates embedding
    // models on). Exactness: components and centroid sums ride the
    // shared integer micro-unit staging (embMicro), so every dot
    // product is an EXACT integer; the only floats are the final
    // cosine expressions over those integers — identical IEEE ops both
    // engines — and the argmax compares the 6-decimal pround with a
    // label tie-break (the x24 ordering discipline). Shape, r11
    // kernelized: centroid sums aggregate over the shared embMicro
    // explode (map-side partials fold 3.2M rows to labels×64 — cheap),
    // then COLLECT as |labels|×dim literal long arrays (bounded K×dim
    // driver data, the IVF-quantizer-literal legitimacy class), and
    // every per-vector dot — nv plus |labels| centroid dots — runs
    // ARRAY-LOCALLY via graft_dot_dec (plans/DotDecimal.scala: long
    // fast path, exact BigInteger overflow fallback, DECIMAL(38,0)
    // out) on the raw embedding row: zero fanout and zero shuffle
    // where the r10 wide-pivot shape still shuffled the full (vec,
    // dim) explode into an 11-decimal-column aggregate (13 s → ~3 s →
    // sub-second warm at sf1 across the three shapes, same
    // exact-integer answer; DotDecimalSpec pins kernel ≡ decimal-agg).
    // A bounded stack() unpivot feeds the 10-row argmax windows;
    // ≤|labels|² output. Null contract (r11 change of behavior, noted
    // per ADVICE): graft_dot_dec poisons a row to NULL on ANY null
    // embedding element, where the old decimal aggregate silently
    // summed the non-null dims — a vector with a null element now gets
    // NULL nv/cos and sorts LAST in the argmax (excluded, in effect)
    // rather than being scored on a partial dot. Corpus embeddings are
    // dense 64-dim with no nulls, so no registered fixture reaches it;
    // if real data could carry null elements, filter or impute them
    // BEFORE this query — partial-dim scoring is not what it computes.
    "x116_centroid_confusion" -> Q(
      (s, dir) => {
        // the label-centroid "model" (sums, norms, label list) is a
        // trained artifact: derive once per (session, corpus
        // generation) under the stamped driver-value discipline the
        // quantizers use — warm invocations skip the corpus aggregate
        // entirely and pay only the map-side scoring scan
        val (labels, smByLabel, ncByLabel) =
          SessionMemo.value(s, "x116-centroid-sums", dir) {
            val ex = embMicro(t(s, dir, "embeddings"))
            val sums = ex.groupBy(col("label").as("clabel"), col("dim"))
              .agg(sum(col("vm")).as("sm"))
            // nc computed by the same engine expression as before the
            // memo existed, just collected with it (10 doubles)
            val ncRows = sums.groupBy("clabel")
              .agg(expr(
                "CAST(sum(CAST(sm AS DECIMAL(38,0)) * sm) AS DOUBLE)").as("nc"))
              .collect()
            val smRows = sums.collect()
            val ls = smRows.map(_.getInt(0)).distinct.sorted
            val nd = smRows.map(_.getInt(1)).max + 1
            require(smRows.length == ls.length * nd,
              s"ragged centroid sums: ${smRows.length} rows for ${ls.length} labels x $nd dims")
            val sm = ls.map { l =>
              val arr = new Array[Long](nd)
              smRows.foreach(r => if (r.getInt(0) == l) arr(r.getInt(1)) = r.getLong(2))
              l -> arr
            }.toMap
            (ls.toVector, sm, ncRows.map(r => r.getInt(0) -> r.getDouble(1)).toMap)
          }
        val nc = {
          import s.implicits._
          labels.map(l => (l, ncByLabel(l))).toDF("clabel", "nc")
        }
        // the same per-element micro conversion embMicro applies, kept
        // as an array so the dots never leave the row
        val vmArr = transform(col("embedding"),
          v => round(v.cast("double") * 1000000, 0).cast("long"))
        val dcols = labels.map(l =>
          graft.functions.Vectors.dotDec(col("vm"), lit(smByLabel(l)))
            .cast("double").as(s"dot_$l"))
        val perVec = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), vmArr.as("vm"))
          .select(col("vec_id") +: col("label") +:
            graft.functions.Vectors.dotDec(col("vm"), col("vm"))
              .cast("double").as("nv") +: dcols: _*)
        val stackExpr = s"stack(${labels.length}, " +
          labels.map(l => s"$l, dot_$l").mkString(", ") + ") AS (clabel, dot)"
        val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("clabel"))
        perVec.selectExpr("vec_id", "label", "nv", stackExpr)
          .join(broadcast(nc), "clabel")
          .withColumn("cos",
            pround(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("label"), col("clabel").as("assigned"))
          .agg(count(lit(1)).as("n_vecs"))
          .orderBy("label", "assigned")
      },
      Some(s"""WITH ex AS (SELECT vec_id, label, i AS dim,
              |         CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
              |           * 1000000, 0) AS BIGINT) AS vm
              |       FROM embeddings, range(64) t(i)),
              |s AS (SELECT label AS clabel, dim, CAST(sum(vm) AS BIGINT) AS sm
              |      FROM ex GROUP BY 1, 2),
              |nc AS (SELECT clabel, CAST(sum(CAST(sm AS HUGEINT) * sm) AS DOUBLE) AS nc
              |       FROM s GROUP BY 1),
              |d AS (SELECT e.vec_id, e.label, s.clabel,
              |        CAST(sum(CAST(e.vm AS HUGEINT) * s.sm) AS DOUBLE) AS dot,
              |        CAST(sum(CAST(e.vm AS HUGEINT) * e.vm) AS DOUBLE) AS nv
              |      FROM ex e JOIN s USING (dim) GROUP BY 1, 2, 3),
              |c AS (SELECT vec_id, label, clabel,
              |        ${duckRound("dot / (sqrt(nv) * sqrt(nc))", 6)} AS cos
              |      FROM d JOIN nc USING (clabel)),
              |a AS (SELECT vec_id, label, clabel FROM (
              |        SELECT *, row_number() OVER (
              |          PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn FROM c)
              |      WHERE rn = 1)
              |SELECT label, clabel AS assigned, CAST(count(*) AS BIGINT) AS n_vecs
              |FROM a GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin),
      "nearest-centroid confusion matrix: shared integer micro-unit staging, broadcast centroid table, exact-integer dots, 6-decimal argmax with label tie-break")
  )

  /** Exploded integer micro-unit embedding components (vec_id, label,
    * dim, vm = round(v·1e6)) — the ONE exactness staging for the
    * embedding-space audit family (x109 centroid matrix, x116
    * nearest-centroid confusion): all downstream sums and dot products
    * are exact integers, so the audits hash-match without tolerance
    * bands (the sumCents idiom lifted to vectors). */
  private def embMicro(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vm", round(col("v").cast("double") * 1000000, 0).cast("long"))
      .drop("v")

  /** The x101 probe core — verdicts for `docs` (doc_id, text, …) with
    * signature staging `hashed` (doc_id, sh, hs) against a persisted
    * index triple. ONE definition shared by the registered x101 query
    * and the streaming ingest gate
    * (EventStream.nearDupIngestGate), so batch and stream can never
    * verdict differently. Candidate pairs are deliberately NOT
    * deduplicated before the confirm join: a batch doc sharing b band
    * keys with one corpus doc confirms ≤ b times (b ≤ 4) and the
    * final per-doc distinct absorbs it — cheaper than a dedicated
    * candidate shuffle. */
  private[graft] def indexProbeVerdicts(s: SparkSession, docs: DataFrame,
      hashed: DataFrame, fpT: String, bandT: String, sigT: String): DataFrame = {
    val exact = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(graft.io.Bucketing.table(s, fpT), Seq("fp"), "left_semi")
      .select("doc_id").withColumn("is_exact", lit(true))
    val cand = bandRows(hashed)
      .select(col("doc_id").as("batch_id"), col("bk"))
      .join(graft.io.Bucketing.table(s, bandT)
        .withColumnRenamed("doc_id", "corpus_id"), "bk")
      .select("batch_id", "corpus_id")
    val near = cand
      .join(graft.io.Bucketing.table(s, sigT)
        .select(col("doc_id").as("corpus_id"), col("sh").as("shc")), "corpus_id")
      .join(hashed
        .select(col("doc_id").as("batch_id"), col("sh").as("shb")), "batch_id")
      .withColumn("inter",
        size(array_intersect(col("shb"), col("shc"))).cast("double"))
      .withColumn("jaccard",
        pround(col("inter") /
          (size(col("shb")) + size(col("shc")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.8)
      .select(col("batch_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    docs.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("is_exact"), lit(false)), lit("exact_dup"))
          .when(coalesce(col("is_near"), lit(false)), lit("near_dup"))
          .otherwise(lit("new")).as("verdict"))
      .orderBy("doc_id")
  }

  /** md5 signature staging for an ARBITRARY documents frame (doc_id,
    * text, …) — the streaming gate's per-micro-batch analog of the
    * memoized [[minhashHashed]]: same shingle definition
    * ([[withShingles]]), same portable base hashes, so a doc hashes
    * identically whether it arrives in a batch table or a stream
    * file. */
  private[graft] def hashedSignatures(docs: DataFrame): DataFrame =
    withShingles(docs)
      .filter(size(col("sh")) > 0)
      .withColumn("hs", Text.md5LongsNative(col("sh"), Text.MinhashMod))
      .select(col("doc_id"), col("sh"), col("hs"))

  /** (doc_id, lang, b) token-bucket rows — bucket per token via the
    * codegen'd md5 kernel (one array pass per doc; the interpreted
    * per-token conv/md5 column was the hot cost of both x98 passes;
    * kernel ≡ the oracle's CAST('0x'||substr(md5(s),1,15) AS BIGINT)
    * % 256 bit-for-bit, NativeKernelSpec). */
  private def dsirTokenBuckets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(Text.md5LongsNative(Text.tokens(col("text")), 256)).as("b"))

  /** x98's 256-row smoothed likelihood-ratio table (b, r_milli) — the
    * trained MODEL of the importance weighter, memoized+persisted per
    * corpus generation so the registered query's warm runs and every
    * streaming micro-batch (EventStream.dsirScoreGate freezes it the
    * way decontamGate freezes the benchmark bloom) read one training
    * pass. ONE counting pass carries both distributions: the raw
    * count and the target-restricted conditional count per bucket
    * (target tokens are corpus tokens, so the conditional count is
    * exactly the left-join-and-fill the oracle's tgt CTE replays —
    * with one fewer corpus pass). */
  private[graft] def dsirRatioTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x98-ratio", dir) {
      dsirTokenBuckets(t(s, dir, "documents"))
        .groupBy("b")
        .agg(count(lit(1)).as("cr"),
          count(when(col("lang") === "en", lit(1))).as("ct"))
        .withColumn("nr", sum("cr").over(Window.partitionBy()))
        .withColumn("nt", sum("ct").over(Window.partitionBy()))
        .withColumn("r_milli", expr(
          "CAST((CAST(ct + 1 AS DECIMAL(38,0)) * (nr + 256) * 1000) div " +
            "(CAST(cr + 1 AS DECIMAL(38,0)) * (nt + 256)) AS BIGINT)"))
        .select("b", "r_milli")
        .persist()
    }

  /** Score `docs` (doc_id, text, lang, …) against a frozen ratio
    * table: map-side bucket explode, broadcast 256-row join, one
    * doc-keyed aggregate. ONE definition shared by the registered x98
    * query and the streaming scorer, so batch and stream weight a
    * document identically.
    *
    * LEFT join + neutral fill: a bucket the model never observed
    * carries NO evidence, so it contributes 0 to the centered sum
    * (r_milli = 1000). Out-of-vocabulary buckets cannot occur for the
    * registered query (its inputs ARE the training corpus) — the case
    * is the STREAM's: an arriving doc may hash tokens into buckets
    * the frozen table lacks, and an inner join would silently drop
    * them from n_tokens (found by the gate spec's novel-token batch);
    * scoring them as the smoothed unseen ratio instead would award
    * the prior Nr/Nt > 1 — a BONUS for being out-of-distribution,
    * the opposite of what an importance weight means. */
  private[graft] def dsirScore(docs: DataFrame, ratio: DataFrame): DataFrame =
    dsirTokenBuckets(docs)
      .join(broadcast(ratio), Seq("b"), "left")
      .na.fill(1000L, Seq("r_milli"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("r_milli") - 1000).as("score_milli"))
      .select("doc_id", "lang", "n_tokens", "score_milli")

  /** The ingest-split draw shared by x100 and x101: a document is
    * BATCH (the newly arrived 10%) iff its seedless md5(doc_id) hash
    * lands in residue 0 of 10 — the FIXTURES §C deterministic-draw
    * idiom, replayed by the oracle's `fl` CTE. */
  private def ingestIsBatch: Column =
    pmod(Curation.idHash(col("doc_id")), lit(10)) === 0

  /** Shared oracle twin of x100 AND x101 (the indexed probe is
    * definitionally the same function — same draw, same band keys,
    * same confirm — so both registrations must hash against ONE
    * SQL). */
  private lazy val duckIncrementalDedup: String =
    s"""WITH $duckMinhashCand,
       |fl AS (SELECT doc_id,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |           AS BIGINT) % 10 = 0 AS is_batch
       |       FROM documents),
       |cfp AS (SELECT DISTINCT md5(d.text) AS fp
       |        FROM documents d JOIN fl USING (doc_id) WHERE NOT is_batch),
       |j AS (SELECT doc_a, doc_b,
       |        ${duckRound(
                 "len(list_intersect(x.sh, y.sh)) * 1.0 / " +
                   "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))", 6)} AS jaccard
       |      FROM cand
       |      JOIN hsd x ON x.doc_id = doc_a
       |      JOIN hsd y ON y.doc_id = doc_b),
       |np AS (SELECT DISTINCT
       |         CASE WHEN fa.is_batch THEN j.doc_a ELSE j.doc_b END AS doc_id
       |       FROM j
       |       JOIN fl fa ON fa.doc_id = j.doc_a
       |       JOIN fl fb ON fb.doc_id = j.doc_b
       |       WHERE j.jaccard >= 0.8 AND fa.is_batch <> fb.is_batch)
       |SELECT d.doc_id,
       |  CASE WHEN EXISTS (SELECT 1 FROM cfp WHERE cfp.fp = md5(d.text))
       |         THEN 'exact_dup'
       |       WHEN EXISTS (SELECT 1 FROM np WHERE np.doc_id = d.doc_id)
       |         THEN 'near_dup'
       |       ELSE 'new' END AS verdict
       |FROM documents d JOIN fl USING (doc_id) WHERE is_batch
       |ORDER BY d.doc_id""".stripMargin

  /** Build-once (session × corpus generation, via the session memo's
    * dir-stamp) persisted dedup index — see the x101 scaladoc for the
    * three tables' roles. 8 buckets matches the other index tables at
    * spec SF; production sizes buckets so one bucket's band rows fit a
    * task. */
  private def dedupIndexTables(
      s: SparkSession, dir: String): (String, String, String) =
    buildDedupIndex(s, dir, "", !ingestIsBatch)

  /** The index over the WHOLE corpus dir (no ingest-split carve-out) —
    * what a deployment actually maintains, and what the streaming
    * ingest gate probes arriving files against: every known doc is
    * "the corpus"; the arriving stream is the batch. Separate catalog
    * tables (suffix `_all`) so the registered x101 query's
    * split-based index keeps its oracle-replayable shape. */
  private[graft] def fullDedupIndexTables(
      s: SparkSession, dir: String): (String, String, String) =
    buildDedupIndex(s, dir, "_all", lit(true))

  private def buildDedupIndex(s: SparkSession, dir: String, suffix: String,
      corpusPred: Column): (String, String, String) = {
    val base = "graft_dedup_" + dir.replaceAll("[^A-Za-z0-9]", "_") + suffix
    val fpT = SessionMemo.value(s, "dedup-fp" + suffix, dir)({
      graft.io.Bucketing.writeBucketed(
        t(s, dir, "documents").filter(corpusPred)
          .select(md5(col("text")).as("fp")).distinct(),
        base + "_fp", "fp", 8, sorted = false)
      base + "_fp"
    })
    val corpusHashed = minhashHashed(s, dir).filter(corpusPred)
    val bandT = SessionMemo.value(s, "dedup-band" + suffix, dir)({
      graft.io.Bucketing.writeBucketed(
        bandRows(corpusHashed), base + "_band", "bk", 8, sorted = false)
      base + "_band"
    })
    val sigT = SessionMemo.value(s, "dedup-sig" + suffix, dir)({
      graft.io.Bucketing.writeBucketed(
        corpusHashed.select("doc_id", "sh"), base + "_sig", "doc_id", 8,
        sorted = false)
      base + "_sig"
    })
    (fpT, bandT, sigT)
  }


  /** x93's scorer — also the per-batch function of
    * EventStream.mixtureDriftGate, so the registered query and the
    * stream score with ONE definition. */
  private[graft] def mixtureShareDrift(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val w = mixtureWeights.toDF("lang", "w_micro")
    // SEEDED from the weight table: a target language that produced
    // ZERO documents must still emit a row (n_docs 0, drift = its
    // whole target) — a planned language vanishing is the single most
    // severe composition failure, and an observed-langs-only join
    // would silently drop it. The anti-join arm adds exactly the
    // missing targets; both arms broadcast the dimension-sized side.
    val seeded = n.join(broadcast(w), Seq("lang"), "left")
      .na.fill(0L, Seq("w_micro"))
      .unionByName(w.join(n.select("lang"), Seq("lang"), "left_anti")
        .withColumn("n_docs", lit(0L)))
    // grand total as a window over the seeded rows (≤ langs + targets,
    // post-aggregation — the bounded-spine shape the plan sweep
    // admits): one scan of the corpus instead of a separate total
    // aggregate re-running the lang groupBy
    seeded
      .withColumn("t", sum("n_docs").over(Window.partitionBy()))
      .withColumn("share_micro", expr("(n_docs * 1000000) div greatest(t, 1)"))
      .withColumn("drift_micro", abs(col("share_micro") - col("w_micro")))
      .select("lang", "n_docs", "share_micro", "w_micro", "drift_micro")
      .orderBy(desc("drift_micro"), asc("lang"))
  }

  /** docs with `tk`, at least `minTokens` tokens — the scrub family's
    * view over the ONE memoized token staging ([[tokStaged]]); the
    * length predicate is a cheap filter over the cached arrays. */
  private def tokenizedDocs(s: SparkSession, dir: String, minTokens: Int): DataFrame =
    tokStaged(s, dir)
      .filter(size(col("tk")) >= minTokens)

  /** Positional `w`-grams (doc_id, off, g), off 0-based from
    * posexplode so start = off + 1 in 1-based token positions —
    * shared by x91 (benchmark membership decides badness) and x92
    * (first-occurrence attribution decides). */
  private def positionalGrams(docs: DataFrame, w: Int): DataFrame =
    // native sliding-gram kernel (r20 — Text.gramsNative): identical
    // (off, g) rows to the transform/sequence HOF it replaces
    // (posexplode indexes the kernel's position-ordered output), minus
    // the interpreted lambda + w element_at walks per window
    docs.select(col("doc_id"),
      posexplode(Text.gramsNative(col("tk"), w)).as(Seq("off", "g")))

  /** Window-scrub core shared by x91/x92: expand each bad start's
    * `w`-token window to covered positions, drop covered tokens,
    * rebuild the kept text in position order, emit CHANGED docs only.
    * One definition, so the two scrubbers can never disagree on window
    * coverage or reconstruction.
    *
    * The rebuild is ARRAY-AT-A-TIME, not position-at-a-time: bad
    * starts aggregate into ONE per-doc covered-position array (a
    * single doc-keyed shuffle whose payload is hit positions, not
    * tokens), the join back to the corpus keys on doc_id alone (inner
    * ⇒ changed docs only), and the clean text is an indexed HOF filter
    * over the doc's own token array — entirely map-side. The previous
    * shape exploded EVERY corpus token into (doc_id, pos) rows, joined
    * them against an exploded+distinct'd hit-position stream, and
    * re-assembled docs with a collect_list/array_sort aggregate —
    * three fact-sized stages the array form deletes. Per-doc cost of
    * the membership probe is O(len · |covered|) — bounded by document
    * length squared, the same per-row envelope as x52's token-mode
    * pass, and microseconds at real document sizes. Covered positions
    * are guaranteed in [1, len] (gram starts stop w-1 short of the
    * end), so n_removed = size of the covered set. */
  private def scrubWindows(docs: DataFrame, badStarts: DataFrame, w: Int): DataFrame = {
    val hitPos = coveredPositions(badStarts, w)
    docs.join(hitPos, "doc_id")
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("hp")).cast("long").as("n_removed"),
        array_join(keptTokens(col("tk"), col("hp")), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** (doc_id, hp): the DISTINCT 1-based token positions covered by any
    * bad start's `w`-token window, one array per flagged doc — the ONE
    * window-coverage definition for the scrub family (x91, x92, x95). */
  private def coveredPositions(badStarts: DataFrame, w: Int): DataFrame =
    badStarts
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(
        sequence(col("off") + 1, col("off") + lit(w))))).as("hp"))

  /** Tokens surviving a covered-position array (1-based positions, the
    * [[coveredPositions]] convention) — the ONE keep-semantics
    * definition for the scrub family. */
  private def keptTokens(tk: Column, hp: Column): Column =
    filter(tk, (_, i) => !array_contains(hp, i + 1))
}
