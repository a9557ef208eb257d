package graft.operators

import graft.Q
import graft.functions.Text
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators: the admission/allocation stage a training
  * corpus passes through AFTER per-document scoring (x26–x30, x52, x98)
  * and BEFORE mixture planning (x53) — "which documents, from which
  * domains, under which model of quality, make the cut".
  *
  *   - x110: reference-LM scoring (CCNet-style, Wenzek et al. 2020) —
  *     train an n-gram LM on a curated slice, score every document by
  *     how predictable its text is under that model, gate on the score.
  *   - x111: per-domain token cap (the head-domain cap every web-scale
  *     corpus applies so no single site dominates an epoch).
  *
  * Parity discipline (same as [[LlmData]]/[[Curation]]): NO
  * transcendentals — the paper's log-space perplexity is replaced by an
  * exact-rational per-token likelihood mean in integer micro-units
  * (the x98 lesson: ln() rounds differently across libm builds; a
  * monotone rational surrogate hash-matches by construction), and all
  * polynomial chains ride DECIMAL(38,0)/HUGEINT (FIXTURES §C).
  */
object Shaping {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ── x110 staging ────────────────────────────────────────────────────

  /** Map-side bigram explode: (doc_id, lang, prev, cur) — adjacency
    * comes from zipping the token array with its own 1-shifted tail, so
    * the staging is a scan-stage projection + explode with NO window
    * and NO positional self-join (x57 needs the join because its
    * context offsets are k ∈ {1,2}; adjacency-only bigrams do not).
    * One-token documents produce zero rows — both engines drop them
    * identically (range(1,1) is empty / slice length 0 is empty). */
  private[operators] def bigrams(docs: DataFrame): DataFrame =
    bigramsFromTokens(
      docs.select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("tk")))

  /** [[bigrams]] over a frame that already carries the token arrays —
    * the corpus path rides the family's ONE memoized token staging
    * (LlmData.tokStaged) instead of re-tokenizing per query; the
    * text-input wrapper above remains for bounded streaming batches. */
  private[operators] def bigramsFromTokens(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), col("lang"), col("tk").as("w"))
      .select(col("doc_id"), col("lang"),
        slice(col("w"), lit(1), size(col("w")) - 1).as("a"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("b"))
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(col("a"), col("b"))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.a").as("prev"), col("p.b").as("cur"))

  /** Admission bar for x110's keep flag, in micro-units of the smoothed
    * per-bigram likelihood mean. A configuration constant in a real
    * deployment (CCNet cuts at fixed perplexity thresholds computed
    * once on a sample); a literal here so the oracle replays it. */
  private val LmKeepMicro = 33000L

  /** Largest single-bigram count the BIGINT micro-likelihood tolerates:
    * (cb+1)·10^6 must stay under Long.MaxValue (see the p_micro comment
    * in [[lmScored]]). Package-visible so the overflow-fence spec can
    * build a synthetic over-bound count. */
  private[operators] val LmCbOverflowBound = Long.MaxValue / 1000000L - 1L

  /** LOUD overflow fence on the persisted bigram counts (r19 verdict
    * #9): the scoring expression's (cb+1)·10^6 wraps silently under
    * non-ANSI BIGINT past cb ≈ 9.2·10^12. The bound is ~two orders
    * above any real single-pair count, but a violation must THROW, not
    * produce a wrong-but-plausible score. Checked ONCE per DISTINCT
    * pair at the persisted cb build (not per corpus bigram in the hot
    * scoring path); values inside the bound pass through unchanged, so
    * results are untouched. */
  private[operators] def fencedCb(cb: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(cb <= lit(LmCbOverflowBound), cb)
      .otherwise(raise_error(concat(
        lit("x110 bigram count exceeds the BIGINT smoothing bound ("),
        cb.cast("string"),
        lit(s" > $LmCbOverflowBound): the (cb+1)*1e6 micro-likelihood " +
          "would wrap; rescale the micro unit"))).cast("long"))

  /** Shared DuckDB fragment: the bigram staging CTEs. */
  private val duckBigrams =
    """toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |bp AS (SELECT doc_id, lang, unnest(range(1, len(w))) AS pos, w FROM toks),
      |bg AS (SELECT doc_id, lang, w[pos] AS prev, w[pos + 1] AS cur FROM bp)""".stripMargin

  /** Shared DuckDB fragment: [[lmScored]]'s full chain, ending in
    * `agg(doc_id, lang, n_bigrams, lm_micro)` — x110 and x112 hash
    * against ONE scoring definition on both engines. */
  private val duckLmScored =
    s"""$duckBigrams,
       |cb AS (SELECT prev, cur, count(*) AS cb FROM bg
       |       WHERE lang = 'en' GROUP BY 1, 2),
       |cp AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
       |vv AS (SELECT count(DISTINCT cur) AS v FROM cb),
       |sc AS (SELECT g.doc_id, g.lang,
       |         CAST((CAST(coalesce(c.cb, 0) + 1 AS HUGEINT) * 1000000)
       |           // (CAST(coalesce(p.cp, 0) AS HUGEINT) + v.v) AS BIGINT) AS p_micro
       |       FROM bg g
       |       LEFT JOIN cb c ON g.prev = c.prev AND g.cur = c.cur
       |       LEFT JOIN cp p ON g.prev = p.prev
       |       CROSS JOIN vv v),
       |agg AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          CAST(CAST(sum(p_micro) AS HUGEINT) // count(*) AS BIGINT) AS lm_micro
       |        FROM sc GROUP BY doc_id, lang)""".stripMargin

  // ── x111 configuration ──────────────────────────────────────────────

  /** Cap each source at this percent of total corpus tokens. */
  private val CapPct = 5
  /** Hash-bucket granularity for the two-level cap scan. At real scale
    * this dials up with domain size the way corpusK/signBitsFor do —
    * the boundary window below shrinks by exactly this factor. */
  private val CapBuckets = 64

  // ── queries ─────────────────────────────────────────────────────────

  /** x110 — reference-LM quality filter (CCNet-style).
    *
    * Train a bigram LM on the curated slice (lang='en', the same
    * target x98 uses), then score EVERY document by its mean smoothed
    * bigram likelihood under that model and gate on a fixed admission
    * bar. The paper scores perplexity = exp(−mean log p); ln() is not
    * engine-portable (x98 scaladoc), so the score here is the exact-
    * rational mean of per-bigram micro-probabilities
    * (1e6·(c(prev,cur)+1)) div (c(prev)+V) — add-one smoothing, floor
    * division, order-free integer sums — which ranks "predictable
    * under the reference model" the same direction and hash-matches
    * bit-for-bit.
    *
    * Plan shape: bigram staging is map-side (see [[bigrams]] — no
    * window, no join); the LM tables are built ONCE from the reference
    * slice (memoized+persisted, the x22/x57 signature-table
    * discipline), and scoring is two broadcast joins + ONE doc-keyed
    * aggregate. The broadcast is right while the reference LM fits —
    * the reference slice is the SMALL curated side by design (x39's
    * benchmark-set asymmetry), and production n-gram LMs prune
    * singleton bigrams precisely to stay bounded (KenLM practice);
    * past that, drop the explicit broadcast() and the join degrades
    * gracefully to shuffle under AQE. Unseen context rows score as
    * the uniform 1e6 div V floor — no NULL leaks into the sum. */
  /** The scored corpus (doc_id, lang, n_bigrams, lm_micro) — ONE
    * definition shared by x110's gate and x112's quality-ordered cap
    * (the dsirScore/bm25ServeScore factoring discipline), memoized +
    * persisted per sfDir like the signature tables. */
  private[operators] def lmScored(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x110-scored", dir) {
      // rides the family's one memoized token staging: the LM build's
      // two corpus passes reuse the cached arrays instead of paying
      // tokenize twice more
      val toks = LlmData.tokStaged(s, dir)
      // cb is MEMOIZED+PERSISTED on its own (r19 optimization): it
      // feeds THREE plan branches — broadcast(cb) directly, cp (a
      // groupBy over it), and vv (a distinct over it) — and without
      // the cache each branch re-ran the full en-slice bigram
      // explode+aggregate, so one lmScored rebuild paid the bigram
      // pass three times (measured: 1.81 s rebuild → 1.0 s with the
      // cache; plan diff: three `Generate explode` subtrees over
      // documents → one, two of the three feeding from
      // InMemoryRelation). Registered in the family memo so clearMemo
      // releases it with the other staged artifacts.
      val cb = SessionMemo.frame(s, "x110-cb", dir) {
        bigramsFromTokens(toks.filter(col("lang") === "en"))
          .groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
          .withColumn("cb", fencedCb(col("cb")))
          .persist()
      }
      val cp = cb.groupBy("prev").agg(sum("cb").as("cp"))
      val vv = cb.select("cur").distinct().agg(count(lit(1)).as("v"))
      bigramsFromTokens(toks)
        .join(broadcast(cb), Seq("prev", "cur"), "left")
        .join(broadcast(cp), Seq("prev"), "left")
        .na.fill(0L, Seq("cb", "cp"))
        .crossJoin(broadcast(vv))
        // BIGINT end to end (r19 optimization — was DECIMAL(38,0)):
        // the per-bigram smoothed likelihood runs once per corpus
        // bigram, and 128-bit decimal multiply/divide there is pure
        // overhead. Exactness bound: (cb+1)·10^6 needs the most
        // frequent en-slice bigram under ~9.2·10^12 occurrences
        // (Long.Max/10^6) — two orders past any web-scale count for a
        // SINGLE bigram pair — and the per-doc sum is ≤ 10^6 × doc
        // bigram count, safe for any document under ~9·10^12 tokens.
        // The DuckDB twin keeps HUGEINT; values are identical inside
        // the bound, which the driver's hash-compare checks.
        .withColumn("p_micro", expr("((cb + 1) * 1000000) div (cp + v)"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("CAST(sum(p_micro) div count(1) AS BIGINT)").as("lm_micro"))
        .persist()
    }

  private def x110 = Q(
    (s, dir) =>
      lmScored(s, dir)
        .withColumn("keep", col("lm_micro") >= lit(LmKeepMicro))
        .orderBy("doc_id"),
    Some(s"""WITH $duckLmScored
            |SELECT doc_id, lang, n_bigrams, lm_micro,
            |  lm_micro >= $LmKeepMicro AS keep
            |FROM agg ORDER BY doc_id""".stripMargin),
    "reference-LM quality filter: bigram LM trained on the curated slice, exact-rational likelihood mean in micro-units, broadcast LM joins + one doc-keyed aggregate")

  /** x111 — per-domain token cap (head-domain cap).
    *
    * No source may contribute more than [[CapPct]]% of total corpus
    * tokens. The kept set is a deterministic hash-ordered prefix of
    * each over-cap source (the x37/x41 seedless-draw idiom — a uniform
    * sample, not a quality-ordered one; compose with x110/x98 scores
    * upstream when the cap should keep the BEST of a domain).
    *
    * Scale shape — the reason this is TWO windows, not one: a naive
    * per-source running sum over documents puts an entire mega-domain
    * in one window partition (the q39 scale-killer). Instead documents
    * hash into [[CapBuckets]] buckets; a per-source running sum over
    * the BUCKET aggregate (a bounded, domains×64-row frame) classifies
    * every bucket as fully-kept / boundary / dropped, and only the ONE
    * boundary bucket per source pays a document-level window — 1/64th
    * of the domain, and the factor dials with domain size the way
    * corpusK does. Kept tokens stay ≤ cap by construction: the
    * boundary prefix starts from the bucket-level prior. Audit output
    * is domain-sized (source, totals, cap, kept). */
  /** The x111 draw columns — ONE definition for the registered
    * two-level plan and the streaming domain-budget gate's
    * within-batch admission, so batch and stream order a document
    * identically: (source, doc_id, nt, h, b). */
  private[graft] def capDocs(docs: DataFrame): DataFrame =
    capDocsFromTokens(docs.select(col("source"), col("doc_id"),
      Text.tokens(col("text")).as("tk")))

  /** [[capDocs]] over a frame already carrying token arrays — the
    * corpus paths (x111, frozenCap) ride LlmData.tokStaged; the
    * text-input wrapper stays for the streaming gate's bounded
    * micro-batches, and both produce identical draw columns. */
  private[graft] def capDocsFromTokens(toks: DataFrame): DataFrame =
    toks.select(col("source"), col("doc_id"),
      size(col("tk")).cast("long").as("nt"),
      Curation.idHash(col("doc_id")).as("h"))
      .withColumn("b", pmod(col("h"), lit(CapBuckets.toLong)))

  /** The frozen corpus-wide per-source budget ([[CapPct]]% of total
    * corpus tokens) — a single driver scalar, trained once per stream
    * start the way dsirRatioTable freezes the DSIR model. */
  private[graft] def frozenCap(s: SparkSession, dir: String): Long =
    capDocsFromTokens(LlmData.tokStaged(s, dir))
      .agg(expr(s"CAST(sum(nt) * $CapPct div 100 AS BIGINT)"))
      .head.getLong(0)

  /** Per-document admission for a BOUNDED micro-batch under per-source
    * already-admitted totals: the x111 prefix rule continued from
    * `prior`. A batch is external demand (the x103 lesson — bounded by
    * arrival, not corpus), so the doc-level window per source is the
    * right shape here; the registered query's two-level bucket scan
    * exists for the corpus-sized case. Priors absent (first batch, or
    * a source never seen) admit from zero. */
  private[graft] def admitBatch(batch: DataFrame, priors: Option[DataFrame],
      cap: Long): DataFrame = {
    val wd = Window.partitionBy("source").orderBy("b", "h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = capDocs(batch)
    priors.fold(base.withColumn("prior", lit(0L))) { p =>
      base.join(broadcast(p), Seq("source"), "left")
        .na.fill(0L, Seq("prior"))
    }
      .withColumn("drun", sum("nt").over(wd))
      .withColumn("admitted", col("prior") + col("drun") <= lit(cap))
      .select("doc_id", "source", "nt", "admitted")
  }

  private def x111 = Q(
    (s, dir) => {
      val d = capDocsFromTokens(LlmData.tokStaged(s, dir))
      val cap = d.agg(expr(
        s"CAST(sum(nt) * $CapPct div 100 AS BIGINT)").as("cap"))
      val wb = Window.partitionBy("source").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rb = d.groupBy("source", "b")
        .agg(sum("nt").as("bt"), count(lit(1)).as("bd"))
        .withColumn("run", sum("bt").over(wb))
        .withColumn("prior", col("run") - col("bt"))
        .crossJoin(broadcast(cap))
      val fullKeep = rb.filter(col("run") <= col("cap"))
        .groupBy("source").agg(sum("bd").as("kd0"), sum("bt").as("kt0"))
      val bnd = rb.filter(col("prior") < col("cap") && col("run") > col("cap"))
        .select(col("source"), col("b"), col("prior"), col("cap"))
      val wd = Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bndKeep = d.join(bnd, Seq("source", "b"))
        .withColumn("drun", sum("nt").over(wd))
        .filter(col("prior") + col("drun") <= col("cap"))
        .groupBy("source").agg(count(lit(1)).as("kd1"), sum("nt").as("kt1"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("src_tokens"))
        .join(fullKeep, Seq("source"), "left")
        .join(bndKeep, Seq("source"), "left")
        .na.fill(0L, Seq("kd0", "kt0", "kd1", "kt1"))
        .crossJoin(broadcast(cap))
        .select(col("source"), col("n_docs"), col("src_tokens"), col("cap"),
          (col("kd0") + col("kd1")).as("kept_docs"),
          (col("kt0") + col("kt1")).as("kept_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT source, doc_id,
            |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
            |         ${Curation.duckIdHash("doc_id")} AS h,
            |         ${Curation.duckIdHash("doc_id")} % $CapBuckets AS b
            |       FROM documents),
            |cap AS (SELECT CAST(sum(nt) * $CapPct // 100 AS BIGINT) AS cap FROM d),
            |rb AS (SELECT source, b, bt, bd,
            |         sum(bt) OVER (PARTITION BY source ORDER BY b
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            |       FROM (SELECT source, b, CAST(sum(nt) AS BIGINT) AS bt,
            |               count(*) AS bd FROM d GROUP BY 1, 2)),
            |fk AS (SELECT source, CAST(sum(bd) AS BIGINT) AS kd0,
            |         CAST(sum(bt) AS BIGINT) AS kt0
            |       FROM rb CROSS JOIN cap WHERE run <= cap GROUP BY source),
            |bnd AS (SELECT source, b, run - bt AS prior FROM rb CROSS JOIN cap
            |        WHERE run - bt < cap AND run > cap),
            |bdk AS (SELECT source, CAST(count(*) AS BIGINT) AS kd1,
            |          CAST(sum(nt) AS BIGINT) AS kt1
            |        FROM (SELECT d.source, d.nt, n.prior, c.cap,
            |                sum(d.nt) OVER (PARTITION BY d.source
            |                  ORDER BY d.h, d.doc_id
            |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drun
            |              FROM d JOIN bnd n ON d.source = n.source AND d.b = n.b
            |              CROSS JOIN cap c)
            |        WHERE prior + drun <= cap GROUP BY source)
            |SELECT t.source, t.n_docs, t.src_tokens, c.cap,
            |  coalesce(kd0, 0) + coalesce(kd1, 0) AS kept_docs,
            |  coalesce(kt0, 0) + coalesce(kt1, 0) AS kept_tokens
            |FROM (SELECT source, count(*) AS n_docs,
            |        CAST(sum(nt) AS BIGINT) AS src_tokens
            |      FROM d GROUP BY source) t
            |LEFT JOIN fk USING (source)
            |LEFT JOIN bdk USING (source)
            |CROSS JOIN cap c ORDER BY t.source""".stripMargin),
    "per-domain token cap: bucket-level running sums classify whole buckets, only the one boundary bucket per source pays a document window")

  /** x112 — quality-ordered domain cap: x111's budget, x110's merit.
    *
    * Same per-source token budget as x111, but an over-cap domain
    * keeps its BEST documents (by the x110 reference-LM score) instead
    * of a uniform hash draw — the composition x111's scaladoc
    * promises. The induced per-domain admission bar (the lowest score
    * that made the cut) is part of the audit output: capping a domain
    * IS setting a quality bar for it, and the bar differing across
    * domains is the visible, explainable consequence.
    *
    * Scale shape: x111's two-level trick with FIXED-WIDTH SCORE BINS
    * in place of hash buckets — bin = lm_micro div 16384 (≤62 bins,
    * disjoint score ranges), so bin-major descending order IS the
    * global (score DESC, doc_id) order and no approxQuantile cut is
    * needed (the x107 sample-cut machinery exists for unbounded
    * scores; a micro-probability is bounded by construction). The
    * bucket aggregate is domains×62 rows; only the one boundary bin
    * per source pays a document-level window. The ORACLE is the plain
    * single-window form — the driver's hash-compare is the
    * cross-engine proof that the binned plan computes exactly the
    * naive semantics (the x107 precedent). */
  /** (source, doc_id, nt, lm_micro): the scored-corpus join x112 and
    * x113 both consume — staged ONCE per (session, corpus generation)
    * like the family's other artifacts (r19 optimization: x112's plan
    * references this join FOUR times — cap aggregate, bin rollup,
    * boundary-bin window, per-source totals — and each reference
    * re-ran the tokStaged⋈lmScored join; x113 re-derived the same
    * join again minus `source`). Released by clearMemo. */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, "x112-scored-docs", dir) {
      LlmData.tokStaged(s, dir)
        .select(col("source"), col("doc_id"),
          size(col("tk")).cast("long").as("nt"))
        .join(lmScored(s, dir).select("doc_id", "lm_micro"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("lm_micro"))
        .persist()
    }

  private def x112 = Q(
    (s, dir) => {
      val d = scoredDocs(s, dir)
        .withColumn("bin", expr("CAST(lm_micro div 16384 AS INT)"))
      val cap = d.agg(expr(
        s"CAST(sum(nt) * $CapPct div 100 AS BIGINT)").as("cap"))
      val wb = Window.partitionBy("source").orderBy(desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rb = d.groupBy("source", "bin")
        .agg(sum("nt").as("bt"), count(lit(1)).as("bd"),
          min("lm_micro").as("bmin"))
        .withColumn("run", sum("bt").over(wb))
        .withColumn("prior", col("run") - col("bt"))
        .crossJoin(broadcast(cap))
      val fullKeep = rb.filter(col("run") <= col("cap"))
        .groupBy("source").agg(sum("bd").as("kd0"), sum("bt").as("kt0"),
          min("bmin").as("bar0"))
      val bnd = rb.filter(col("prior") < col("cap") && col("run") > col("cap"))
        .select(col("source"), col("bin"), col("prior"), col("cap"))
      val wd = Window.partitionBy("source")
        .orderBy(desc("lm_micro"), asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bndKeep = d.join(bnd, Seq("source", "bin"))
        .withColumn("drun", sum("nt").over(wd))
        .filter(col("prior") + col("drun") <= col("cap"))
        .groupBy("source").agg(count(lit(1)).as("kd1"), sum("nt").as("kt1"),
          min("lm_micro").as("bar1"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("src_tokens"))
        .join(fullKeep, Seq("source"), "left")
        .join(bndKeep, Seq("source"), "left")
        .na.fill(0L, Seq("kd0", "kt0", "kd1", "kt1"))
        .crossJoin(broadcast(cap))
        .select(col("source"), col("n_docs"), col("src_tokens"), col("cap"),
          (col("kd0") + col("kd1")).as("kept_docs"),
          (col("kt0") + col("kt1")).as("kept_tokens"),
          least(col("bar0"), col("bar1")).as("bar_micro"))
        .orderBy("source")
    },
    Some(s"""WITH $duckLmScored,
            |d AS (SELECT dd.source, dd.doc_id,
            |        CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS nt,
            |        coalesce(a.lm_micro, 0) AS sc
            |      FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id),
            |cap AS (SELECT CAST(sum(nt) * $CapPct // 100 AS BIGINT) AS cap FROM d),
            |r AS (SELECT *, sum(nt) OVER (PARTITION BY source
            |        ORDER BY sc DESC, doc_id
            |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            |      FROM d),
            |k AS (SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
            |        CAST(sum(nt) AS BIGINT) AS kept_tokens,
            |        CAST(min(sc) AS BIGINT) AS bar_micro
            |      FROM r CROSS JOIN cap WHERE run <= cap GROUP BY source)
            |SELECT t.source, t.n_docs, t.src_tokens, c.cap,
            |  coalesce(kept_docs, 0) AS kept_docs,
            |  coalesce(kept_tokens, 0) AS kept_tokens,
            |  bar_micro
            |FROM (SELECT source, count(*) AS n_docs,
            |        CAST(sum(nt) AS BIGINT) AS src_tokens
            |      FROM d GROUP BY source) t
            |LEFT JOIN k USING (source)
            |CROSS JOIN cap c ORDER BY t.source""".stripMargin),
    "quality-ordered domain cap: fixed-width score bins make bin-major order the exact global score order; oracle is the naive single window — the hash match proves the binned plan")

  /** x113 — quality-banded curriculum schedule (Bengio et al. 2009
    * curriculum learning, the data-ordering recipe: train toward the
    * best data last). Documents are banded into 8 curriculum phases by
    * their x110 reference-LM score, normalized against broadcast
    * corpus min/max the q48 quantization way — exact integer
    * arithmetic, no quantile estimation, and phases are disjoint score
    * ranges so per-phase mean scores are STRICTLY ordered by
    * construction (pinned in spec). The schedule is the phase order.
    *
    * Scale shape: phase assignment is one map-side expression against
    * two broadcast scalars; the audit is an 8-row aggregate. The point
    * of banding at PHASE granularity (vs a global quality sort) is the
    * q39 lesson: a curriculum needs documents grouped by level, not
    * totally ordered — each phase then shuffles internally via x77's
    * hash shards, so the dataloader keeps shard-sequential I/O and no
    * global sort ever runs. */
  private def x113 = Q(
    (s, dir) => {
      // same staged scored-corpus join as x112 (source column unused
      // here; carrying it through the aggregate input is free)
      val d = scoredDocs(s, dir)
      val mm = d.agg(min("lm_micro").as("mn"), max("lm_micro").as("mx"))
      d.crossJoin(broadcast(mm))
        .withColumn("phase", expr(
          "CAST((CAST(lm_micro - mn AS DECIMAL(38,0)) * 8) div (mx - mn + 1) AS INT)"))
        .groupBy("phase")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("phase_tokens"),
          min("lm_micro").as("lo_micro"), max("lm_micro").as("hi_micro"),
          expr("CAST(CAST(sum(lm_micro) AS DECIMAL(38,0)) div count(1) AS BIGINT)")
            .as("mean_micro"))
        .orderBy("phase")
    },
    Some(s"""WITH $duckLmScored,
            |d AS (SELECT dd.doc_id,
            |        CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS nt,
            |        coalesce(a.lm_micro, 0) AS sc
            |      FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id),
            |mm AS (SELECT min(sc) AS mn, max(sc) AS mx FROM d)
            |SELECT CAST((CAST(sc - mn AS HUGEINT) * 8) // (mx - mn + 1) AS INT) AS phase,
            |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS phase_tokens,
            |  CAST(min(sc) AS BIGINT) AS lo_micro,
            |  CAST(max(sc) AS BIGINT) AS hi_micro,
            |  CAST(CAST(sum(sc) AS HUGEINT) // count(*) AS BIGINT) AS mean_micro
            |FROM d CROSS JOIN mm
            |GROUP BY 1 ORDER BY phase""".stripMargin),
    "quality-banded curriculum: q48-style min/max normalization into 8 disjoint score phases, map-side assignment against broadcast scalars, 8-row audit")

  val queries: Map[String, Q] = Map(
    "x110_ngram_lm_filter" -> x110,
    "x111_domain_cap" -> x111,
    "x112_quality_cap" -> x112,
    "x113_curriculum_phases" -> x113)
}
