package graft

import org.apache.spark.sql.DataFrame

/** Output invariants of the training-data-pipeline queries (x36–x40)
  * on real testdata — the algebraic facts that must hold regardless of
  * the corpus: conservation (packing loses no tokens), containment
  * (samples and flags only reference real docs), and ranking shape.
  * The value-level oracle checks equality with DuckDB; these assert
  * the properties a refactor could silently break while still matching
  * a stale oracle formulation. */
class LlmInvariantsSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  test("x114: coverage audit conserves against x94's round-3 corpus") {
    val cov = run("x114_tokenizer_coverage").collect()
    assert(cov.nonEmpty)
    cov.foreach { r =>
      val (nTok, oov, oovMicro) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(oov <= nTok)
      assert(oovMicro == oov * 1000000L / nTok, "rate must be the floor micro-div")
      assert(oov > 0 && oov < nTok,
        s"${r.getString(0)}: 24-token budget must be non-degenerate on the test corpus")
    }
    // cross-query identity: the audit's token total IS x94's post-merge
    // corpus size (same staged frame, by construction via bpeChain)
    val after3 = run("x94_bpe_iterative").collect()
      .find(_.getLong(0) == 3L).get.getLong(4)
    assert(cov.map(_.getLong(2)).sum == after3,
      "per-lang token totals must refold to x94's round-3 tokens_after")
  }

  test("x115: intra-doc scrub replays exactly — keep-first windows, changed docs only") {
    val rows = run("x115_intradoc_scrub").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows.nonEmpty, "test corpus must contain intra-doc repeated 3-grams")
    // exact rule replay per document: first occurrence of each 3-gram
    // survives, every later occurrence's 3-token window is covered
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .collect().map { d =>
        val tk = d.getAs[String]("text").split(" ", -1) // engines keep trailing empties
        val first = scala.collection.mutable.Map.empty[String, Int]
        val covered = scala.collection.mutable.Set.empty[Int]
        for (i <- 0 to tk.length - 3) {
          val g = tk.slice(i, i + 3).mkString(" ")
          if (first.contains(g)) covered ++= (i until i + 3)
          else first(g) = i
        }
        (d.getAs[Long]("doc_id"), tk, covered)
      }
    val expectedChanged = expected.filter(_._3.nonEmpty)
    assert(rows.keySet == expectedChanged.map(_._1).toSet,
      "emitted docs must be exactly those with an intra-doc repeat")
    expectedChanged.foreach { case (id, tk, covered) =>
      val (n, rm, clean) = rows(id)
      assert(n == tk.length && rm == covered.size, s"doc $id counts diverge")
      val keptReplay = tk.indices.filterNot(covered).map(tk).mkString(" ")
      assert(clean == keptReplay, s"doc $id reconstruction diverges")
    }
  }

  test("x116: confusion matrix partitions the corpus and beats chance purity") {
    val rows = run("x116_centroid_confusion").collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == 500L, "every embedding must be assigned exactly once")
    val labels = rows.map(_.getInt(0)).distinct.length
    val diag = rows.filter(r => r.getInt(0) == r.getInt(1)).map(_.getLong(2)).sum
    assert(diag * labels > total,
      s"nearest-centroid purity $diag/$total must beat the 1/$labels chance floor")
    rows.foreach(r => assert(r.getLong(2) >= 1))
  }

  test("x118: source attribution refolds exactly to x39's flag set") {
    val att = run("x118_contam_by_source").collect()
    val x39 = run("x39_decontamination").collect()
    assert(att.map(_.getLong(2)).sum == x39.length,
      "per-source flagged docs must sum to x39's flagged-doc count")
    assert(att.map(_.getLong(3)).sum == x39.map(_.getLong(1)).sum,
      "per-source shared shingles must sum to x39's total")
    att.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(1))
    }
  }

  test("x119: duplicated-chunk audit refolds against x46's chunk table") {
    val audit = run("x119_dup_chunk_audit").collect()
    assert(audit.nonEmpty, "planted near-dup prefixes must share chunks")
    val chunks = run("x46_token_chunks").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val perDoc = chunks.groupBy(_._1).view.mapValues(_.length).toMap
    val docsPerFp = chunks.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct.length).toMap
    val expected = chunks.groupBy(_._1).map { case (d, cs) =>
      d -> cs.count(c => docsPerFp(c._2) > 1) }.filter(_._2 > 0)
    assert(audit.map(r => r.getLong(0) -> r.getLong(2)).toMap == expected,
      "audit must equal the x46-table replay")
    audit.foreach { r =>
      assert(r.getLong(1) == perDoc(r.getLong(0)))
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    }
  }

  test("x68: quantizer distortion partitions the corpus; frontier below mean") {
    val rows = run("x68_quantizer_distortion").collect()
    assert(rows.map(_.getLong(1)).sum == 500L,
      "cluster members must partition the embedding corpus")
    rows.foreach { r =>
      val (n, mean, min) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n >= 1)
      assert(min <= mean + 1e-9, s"frontier cosine above the mean in ${r.getLong(0)}")
      assert(mean <= 1.000001 && min >= -1.000001)
    }
  }

  test("x37: per-stratum sample counts are bounded and rates lie in [0,1]") {
    val rows = run("x37_stratified_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(k >= 0 && k <= n, s"sampled $k of $n in ${r.getString(0)}")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("x38: packing conserves every token and bins are contiguous per shard") {
    import spark.implicits._
    val bins = run("x38_sequence_packing").collect()
    val packedTotal = bins.map(_.getLong(3)).sum
    val corpusTotal = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.expr("size(split(text, ' '))").as("n"))
      .as[Int].collect().map(_.toLong).sum
    assert(packedTotal == corpusTotal, "packing must not drop or double-count tokens")
    bins.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.head == 0L, s"$src must start at bin 0")
      assert(ids.zipWithIndex.forall { case (b, i) => b == i.toLong },
        s"$src bins must be contiguous, got ${ids.mkString(",")}")
      rs.foreach(r => assert(r.getLong(4) <= r.getLong(5), "first_doc <= last_doc"))
    }
  }

  test("x39: flags only non-benchmark docs, each sharing at least one shingle") {
    val rows = run("x39_decontamination").collect()
    assert(rows.nonEmpty, "the synthetic corpus repeats templates; overlap must exist")
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 0, "benchmark docs must not flag themselves")
      assert(r.getLong(1) >= 1)
    }
  }

  test("x40: ranks are 1..k per lang with non-increasing scores") {
    val byLang = run("x40_tfidf_terms").collect().groupBy(_.getString(0))
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      val ranked = rs.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq == (1 to ranked.length),
        s"$lang ranks must be dense from 1")
      assert(ranked.length <= 5)
      val scores = ranked.map(_.getDouble(5)).toSeq
      assert(scores == scores.sorted.reverse, s"$lang scores must be non-increasing")
    }
  }

  test("x44: status counts reconstruct exactly from the derivation rules") {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("doc_id").as[Long].collect()
    val expected = Map(
      "added" -> ids.count(_ % 13 == 0).toLong,
      "deleted" -> ids.count(_ % 7 == 0).toLong,
      "modified" -> ids.count(i => i % 7 != 0 && i % 11 == 0).toLong,
      "unchanged" -> ids.count(i => i % 7 != 0 && i % 11 != 0).toLong)
    val got = run("x44_corpus_diff").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.filter(_._2 > 0))
  }

  test("x45: every draw is a valid non-self embedding id, at most k per anchor") {
    val rows = run("x45_negative_sampling").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) != r.getLong(0), "negative must not be its own anchor")
      assert(r.getLong(2) >= 0)
    }
    rows.groupBy(_.getLong(0)).foreach { case (anchor, draws) =>
      assert(draws.length <= 3, s"anchor $anchor drew ${draws.length} > k")
      assert(draws.map(_.getInt(1)).distinct.length == draws.length, "draw ids unique")
    }
  }

  test("x46: chunk ids are dense per doc and chunks cover every token") {
    import spark.implicits._
    val nTokens = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr("size(split(text, ' '))").as("n"))
      .as[(Long, Int)].collect().toMap
    run("x46_token_chunks").collect().groupBy(_.getLong(0)).foreach {
      case (doc, chunks) =>
        val ids = chunks.map(_.getInt(1)).sorted
        assert(ids.toSeq == (0 until ids.length), s"doc $doc chunk ids not dense")
        // stride 40 + chunk 50: the last chunk's start (40*(k-1)) must
        // reach past the final token, and coverage sums to >= n
        val n = nTokens(doc)
        assert(40 * (ids.length - 1) < n && 40 * ids.length >= math.max(n - 9, 1),
          s"doc $doc with $n tokens produced ${ids.length} chunks")
        assert(chunks.map(_.getInt(2)).sum >= n, s"doc $doc chunks must cover all tokens")
    }
  }

  test("x47: manifest only contains quality survivors with contiguous bins") {
    run("x47_pipeline_manifest").collect().groupBy(_.getString(0)).foreach {
      case (src, bins) =>
        val ids = bins.map(_.getLong(1)).sorted
        assert(ids.head == 0L && ids.zipWithIndex.forall { case (b, i) => b == i.toLong },
          s"$src bins must be contiguous from 0")
        bins.foreach { r =>
          assert(r.getDouble(4) >= 0.5 && r.getDouble(4) <= 1.0,
            s"$src avg quality must sit within the gate")
        }
    }
  }

  test("x48: trained clusters partition the corpus; frontier pairs are canonical") {
    val rows = run("x48_semdedup_clusters").collect()
    assert(rows.nonEmpty)
    val nVec = graft.sources.Tables.load(spark, sf0001, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVec,
      "cluster sizes must sum to the corpus — the assignment is a partition")
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        assert(r.getLong(2) < r.getLong(3), "frontier pair must be va < vb")
        assert(math.abs(r.getDouble(4)) <= 1.000001, "cosine out of range")
      } else assert(r.getLong(1) == 1L,
        "only a singleton cluster may lack a frontier pair")
      assert(r.getLong(5) >= 0L)
    }
  }

  test("x49: dup-gram counts are bounded and the template corpus overlaps") {
    val rows = run("x49_substring_spans").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ng, nd, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(ng >= 1L, "only docs with >= 10 tokens may appear")
      assert(nd >= 0L && nd <= ng, "duplicated positions cannot exceed positions")
      assert(f >= 0.0 && f <= 1.0)
    }
    assert(rows.exists(_.getLong(2) > 0),
      "the synthetic corpus repeats templates; cross-doc 10-grams must exist")
  }

  test("x49: the df-cap excludes boilerplate grams but keeps genuine copied spans") {
    // A Zipf-shaped hazard corpus the registered query must handle:
    // every doc opens with the SAME 10-token boilerplate header (df =
    // n_docs >> HotGramDfCap), and exactly two docs additionally share
    // a genuine 10-token copied span (df = 2). Without the cap every
    // doc would score dup_frac > 0 from the header alone; with it,
    // only the two copying docs carry signal.
    import spark.implicits._
    val header = (1 to 10).map(i => s"hdr$i").mkString(" ")
    val span = (1 to 10).map(i => s"copied$i").mkString(" ")
    val nDocs = 200 // > HotGramDfCap = 128, so the header df-caps out
    val docs = (1L to nDocs.toLong).map { id =>
      val body =
        if (id <= 2) span // the genuine cross-doc duplication
        else (1 to 10).map(i => s"u${id}w$i").mkString(" ") // unique filler
      (id, s"$header $body", "en", "synthetic", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dirF = graft.io.TempDirs.scratch("graft-x49cap")
    try {
      docs.write.mode("overwrite").parquet(s"$dirF/documents.parquet")
      val rows = SparkEntry.queries("x49_substring_spans")(spark, dirF)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.size == nDocs)
      // 20 tokens -> 11 gram positions per doc
      assert(rows.values.forall(_._1 == 11L))
      // docs 1-2 are identical, so all 11 grams are cross-doc dups —
      // but position 1 is the PURE header gram (df = 200 > cap), which
      // the cap excludes, leaving the 10 positions that mix header and
      // copied-span tokens (df = 2, genuine signal). 10-not-11 is the
      // cap working at the boundary.
      assert(rows(1L)._2 == 10L && rows(2L)._2 == 10L,
        "identical docs keep every sub-cap gram; the pure-header gram df-caps out")
      // every other doc's grams are either unique filler or contain the
      // df-capped header -> zero dup signal
      (3L to nDocs.toLong).foreach(id =>
        assert(rows(id)._2 == 0L,
          s"doc $id carries only boilerplate; the df-cap must zero it"))
    } finally graft.io.TempDirs.deleteRecursively(java.nio.file.Paths.get(dirF))
  }

  test("x50: bigram top-k is distinct, positive, and count-ordered") {
    val rows = run("x50_bigram_vocab").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val ns = rows.map(_.getLong(1)).toSeq
    assert(ns == ns.sorted.reverse, "counts must be non-increasing")
    assert(ns.forall(_ >= 1L))
    assert(rows.map(_.getString(0)).distinct.length == rows.length,
      "merge candidates must be distinct pairs")
    rows.foreach(r => assert(r.getString(0).split(" ").length == 2,
      "each candidate is exactly one adjacent token pair"))
  }

  test("x35/x51: multi-probe recall dominates single-probe (superset candidates)") {
    val recalls = run("x35_ann_recall").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(recalls.keySet == Set("sign_lsh", "sign_lsh_mp", "ivf", "pq_adc", "pq_adc_rerank"))
    assert(recalls("pq_adc_rerank") >= recalls("pq_adc"),
      "exact re-rank of an ADC superset shortlist cannot lose recall")
    assert(recalls("sign_lsh_mp") >= recalls("sign_lsh"),
      "the hamming-1 probe set contains the single bucket — recall cannot drop")
    // and every multi-probe hit is scored exactly as the brute-force scorer says
    val mp = run("x51_ann_multiprobe").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = run("x24_topk_cosine").collect().map(_.getDouble(1)).max
    assert(mp.nonEmpty && mp.values.max <= exact)
  }

  test("x52: rule gate rows are internally consistent and both outcomes occur") {
    val rows = run("x52_gopher_rules").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, mean, nstop, rep, keep) =
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))
      assert(rep > 0.0 && rep <= 1.0, "token mode fraction must be a fraction")
      assert(mean > 0.0)
      val expected = nw >= 20 && nw <= 400 && mean >= 3.0 && mean <= 10.0 &&
        nstop >= 2 && rep <= 0.2
      assert(keep == expected, s"doc ${r.getLong(0)}: flag must equal its own rules")
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "thresholds must separate the corpus, not rubber-stamp it")
  }

  test("x53: allocation never exceeds availability and rates are true fractions") {
    val rows = run("x53_mixture_plan").collect()
    assert(rows.length == 5, "every weighted language must plan")
    rows.foreach { r =>
      val (avail, w, planned, rate) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(planned <= avail, "cannot plan more tokens than exist")
      assert(planned == math.min(avail, 20000L * w / 1000000L),
        "allocation must be min(available, weight x budget)")
      assert(rate > 0.0 && rate <= 1.0)
    }
    assert(rows.exists(_.getDouble(4) < 1.0),
      "the budget must be binding somewhere or the planner is vacuous")
  }

  test("x54: quantiles are ordered and are real member values") {
    import spark.implicits._
    val byLang = graft.sources.Tables.load(spark, sf0001, "documents")
      .select($"lang", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).toSet }
    val rows = run("x54_length_quantiles").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lang, p50, p90, p99) =
        (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(p50 <= p90 && p90 <= p99, s"$lang quantiles must be monotone")
      assert(Seq(p50, p90, p99).forall(byLang(lang).contains),
        s"$lang: rank selection must return member values, never interpolations")
    }
  }

  test("x55: KMV estimate is exact below k and self-consistent above") {
    val rows = run("x55_kmv_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est, relErr) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(est > 0.0)
      if (exact < 32)
        assert(est == exact.toDouble, "below k the sketch holds every value — exact")
      assert(math.abs(relErr - math.abs(est - exact) / exact) < 1e-5,
        "reported error must be the error of the reported estimate")
    }
  }

  test("x36: exactly one survivor per component, labeled by its minimum") {
    val rows = run("x36_neardup_components").collect()
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      assert(members.count(_.getBoolean(2)) == 1, s"component $comp needs one survivor")
      assert(members.map(_.getLong(0)).min == comp, "label must be the member minimum")
    }
  }

  test("x56: the CMS estimate dominates the exact count (upper-bound law)") {
    val rows = run("x56_cms_heavy_hitters").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact,
        s"CMS can only over-count: tok=${r.getString(0)} exact=$exact est=$est")
    }
  }

  test("x57: pair counts are positive and mirrored pairs agree") {
    val rows = run("x57_skipgram_pairs").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= 1))
    // the full pair relation is symmetric by construction; the top-30
    // cut can split a mirrored pair across the boundary, but any mirror
    // that IS present must carry the identical count
    val byPair = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    byPair.foreach { case ((a, b), n) =>
      byPair.get((b, a)).foreach(m => assert(m == n, s"($a,$b) $n vs ($b,$a) $m"))
    }
  }

  test("x59: first day's EWMA is exactly half its own volume; all values bounded") {
    val rows = run("x59_ewma").collect().sortBy(_.getDate(0).toString)
    assert(rows.nonEmpty)
    // day 0 has no history: only tap 0 (weight 1/2) contributes, and
    // the integer pipeline makes that EXACTLY n·500000 micro-units
    val first = rows.head
    assert(first.getLong(2) == first.getLong(1) * 500000L,
      s"first-day ewma ${first.getLong(2)} != n/2 of ${first.getLong(1)}")
    val maxN = rows.map(_.getLong(1)).max
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= maxN * 1000000L,
        "ewma is a sub-convex combination of window volumes")
    }
  }

  test("x58: containments lie in (0,1] and every confirmed x22 pair survives") {
    val rows = run("x58_containment_dedup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ca, cb) = (r.getDouble(2), r.getDouble(3))
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0)
      assert(math.max(ca, cb) >= 0.7, "the gate must hold on the output")
    }
    // containment >= Jaccard on the same pair, so x22's J >= 0.8 pairs
    // are a subset of x58's max-containment >= 0.7 pairs
    val x58Pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val x22Pairs = run("x22_minhash_lsh_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(x22Pairs.subsetOf(x58Pairs),
      s"missing: ${(x22Pairs -- x58Pairs).take(5)}")
  }

  test("x77: shards partition the corpus; a seed change permutes order but not membership") {
    val rows = run("x77_epoch_shards").collect()
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total,
      "shard doc counts must partition the corpus exactly")
    assert(rows.map(_.getLong(0)).toSet == (0L until 8L).toSet,
      "all 8 shards must be non-empty at this corpus size")
    // uniformity sanity (hash-mod balance): no shard more than 2x the mean
    val mean = total.toDouble / 8
    rows.foreach(r => assert(r.getLong(1) < 2 * mean,
      s"shard ${r.getLong(0)} badly unbalanced: ${r.getLong(1)} vs mean $mean"))
    // a NEW EPOCH (different okey seed, same shard hash) must keep
    // every membership column fixed and move the order checksum —
    // the checksum really pins the permutation, not the membership.
    // SAME definition as the registered query (seed is the only
    // variable), so this comparison cannot drift against a stale
    // re-derivation of the expressions.
    val ep2 = operators.LlmData.epochShardManifest(spark, sf0001, "ep2").collect()
    def by(rs: Array[org.apache.spark.sql.Row], c: String) =
      rs.map(r => r.getAs[Long]("shard") -> r.getAs[Long](c)).toMap
    assert(by(rows, "n_docs") == by(ep2, "n_docs") &&
      by(rows, "shard_tokens") == by(ep2, "shard_tokens"),
      "epoch seed must not move documents between shards")
    // head_doc legitimately CHANGES with the seed (it is the first doc
    // in the new order) — what must hold is that both epochs' heads
    // are real corpus members
    val ids = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    (rows ++ ep2).foreach(r => assert(ids(r.getAs[Long]("head_doc")),
      s"head_doc ${r.getAs[Long]("head_doc")} is not a corpus doc"))
    val chk1 = by(rows, "order_chk")
    val moved = ep2.count(r =>
      chk1(r.getAs[Long]("shard")) != r.getAs[Long]("order_chk"))
    assert(moved >= 7,
      s"a new epoch must re-permute (checksum moved in only $moved/8 shards)")
  }

  test("x78: stride interleave is prefix-closed per lang and fair to within 2 draws") {
    val rows = run("x78_mixture_interleave").collect()
    assert(rows.map(_.getAs[Long]("n_drawn")).sum == 300L,
      "the prefix inspection must draw exactly 300 docs")
    // targets come from the query's own share_target column (the ONE
    // mixtureWeights definition) — no third copy of the mixture here
    assert(math.abs(rows.map(_.getAs[Double]("share_target")).sum - 1.0) < 1e-9,
      "mixture weights must sum to 1")
    rows.foreach { r =>
      val (lang, n, deepest) = (r.getAs[String]("lang"),
        r.getAs[Long]("n_drawn"), r.getAs[Long]("deepest_rank"))
      // vt is strictly increasing in rn for a fixed lang, so the
      // drawn set is exactly each lang's first n ranks — if this
      // breaks, the interleave is skipping docs within a source
      assert(deepest == n, s"$lang: drawn ranks not prefix-closed ($deepest != $n)")
      // the stride-scheduling fairness bound: every prefix tracks the
      // target mixture to within ~one draw per competing source
      val expected = 300.0 * r.getAs[Double]("share_target")
      assert(math.abs(n - expected) <= 2.0,
        s"$lang: drew $n of 300, target ${expected.toInt} — stride fairness violated")
    }
  }

  test("x77: the physical export realizes the manifest order — written files replay the checksum") {
    // the manifest's claim is that its plan IS the 100 TB export plan
    // (partitionBy(shard) + shard-local sort) with an aggregate in
    // place of the file writer. Prove it: WRITE the export, read each
    // shard's file back in FILE order, recompute sum(rn*h6) mod 1e18
    // locally, and match the registered manifest's order_chk. The
    // sort key includes `shard` so a task holding several shards
    // keeps each one contiguous and ordered (the Bucketing.compact
    // lesson: repartition-by-key alone does NOT align rows to files).
    val out = graft.io.TempDirs.scratch("graft-epoch-export")
    operators.LlmData.epochShardRows(spark, sf0001, "ep1")
      .repartition(org.apache.spark.sql.functions.col("shard"))
      .sortWithinPartitions("shard", "okey", "doc_id")
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    val manifest = run("x77_epoch_shards").collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("order_chk")).toMap
    (0L until 8L).foreach { sh =>
      val files = Option(new java.io.File(s"$out/shard=$sh").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"shard $sh: hash partitioning must land one shard in one task/file, got ${files.length}")
      // single small file = one read partition, so collect preserves
      // the writer's row order
      val h6s = spark.read.parquet(files.head.getPath)
        .select("h6").collect().map(_.getLong(0))
      val chk = h6s.zipWithIndex
        .map { case (h, i) => BigInt(i + 1) * BigInt(h) }
        .sum % BigInt(1000000000000000000L)
      assert(chk == BigInt(manifest(sh)),
        s"shard $sh: file-order checksum $chk != manifest ${manifest(sh)}")
    }
  }

  test("x79: bloom prefilter is invisible in the answer — row-equal to x39") {
    val exact = run("x39_decontamination").collect().map(_.toSeq).toSeq
    val bloom = run("x79_decontam_bloom").collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty, "the synthetic corpus must produce contamination flags")
    assert(bloom == exact,
      "the bloom path must return byte-identical rows (no false negatives; " +
        "confirm join erases false positives)")
  }

  test("x79: the confirm join erases real false positives from an undersized bloom") {
    // the registered query's 2^20-bit filter has ~zero fpp at spec SF,
    // so the exactness claim would go untested there — force the
    // false-positive path with a 64-bit filter over 200 candidates
    import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}
    import spark.implicits._
    val members = (0 until 10).map(i => s"m$i").toDF("s")
    val cands =
      ((0 until 200).map(i => s"c$i") ++ (0 until 10).map(i => s"m$i")).toDF("s")
    val bf = members
      .agg(call_function("graft_bloom_agg", xxhash64(col("s")),
        lit(16L), lit(64L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = cands
      .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("s"))))
      .as[String].collect().toSet
    val memberSet = (0 until 10).map(i => s"m$i").toSet
    assert(memberSet.subsetOf(pre), "a bloom must never produce a false negative")
    assert(pre.exists(_.startsWith("c")),
      "a 64-bit filter over 200 candidates must collide somewhere — " +
        "otherwise this test exercises nothing")
    val confirmed = cands
      .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("s"))))
      .join(members.withColumnRenamed("s", "m"), col("s") === col("m"))
      .select("s").as[String].collect().toSet
    assert(confirmed == memberSet, "the confirm join must erase every false positive")
  }

  test("x80/x81: RP retrieval is well-formed; re-rank recovers what direct ranking loses") {
    val exact = run("x24_topk_cosine").collect()
    val exactIds = exact.map(_.getLong(0)).toSet
    val exactCos = exact.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = run("x80_rp_topk").collect()
    val rerank = run("x81_rp_rerank").collect()
    for ((rows, cosCol) <- Seq((direct, "cos_rp"), (rerank, "cos"))) {
      assert(rows.length == 10)
      val ids = rows.map(_.getLong(0))
      assert(ids.distinct.length == 10 && !ids.contains(0L))
      val cs = rows.map(_.getAs[Double](cosCol))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"$cosCol must be descending")
      cs.foreach(c => assert(math.abs(c) <= 1.0 + 1e-6))
    }
    val directRecall = direct.map(_.getLong(0)).count(exactIds) / 10.0
    val rerankRecall = rerank.map(_.getLong(0)).count(exactIds) / 10.0
    // the isotropic synthetic corpus is JL's adversarial case (x80
    // scaladoc): direct compressed ranking is chance-level, and the
    // whole point of the two-stage form is recovering from that
    assert(rerankRecall >= directRecall,
      s"re-rank ($rerankRecall) must dominate direct compressed ranking ($directRecall)")
    assert(rerankRecall >= 0.5,
      s"shortlist-100 re-rank must recover most of the exact top-10, got $rerankRecall")
    // stage 2 computes TRUE cosines: wherever x81 and x24 agree on an
    // id, they must agree on the score to the last rounded digit
    rerank.foreach { r =>
      exactCos.get(r.getLong(0)).foreach { c =>
        assert(r.getAs[Double]("cos") == c,
          s"x81 re-ranked cos for ${r.getLong(0)} must equal x24's full-space cosine")
      }
    }
  }

  test("x82: temperature rebalance hits its targets and actually rebalances") {
    import org.apache.spark.sql.functions.{count, lit}
    val drawn = run("x82_temperature_sample").collect()
    val counts = graft.sources.Tables.load(spark, sf0001, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val drawnBy = drawn.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    // independent re-derivation of the integer allocation (the same
    // IEEE sqrt/floor the engines use, then pure integer arithmetic)
    val w = counts.map { case (l, n) => l -> math.floor(math.sqrt(n.toDouble) * 1e6).toLong }
    val tw = w.values.sum
    counts.foreach { case (l, n) =>
      val target = math.min(n, 300L * w(l) / tw)
      assert(drawnBy.getOrElse(l, 0L) == target,
        s"$l must draw exactly its temperature target $target, got ${drawnBy.getOrElse(l, 0L)}")
    }
    // ranks are dense 1..target per lang (the draw is the hash-rank prefix)
    drawn.groupBy(_.getString(0)).foreach { case (l, rs) =>
      val rns = rs.map(_.getInt(2)).sorted
      assert(rns.head == 1 && rns.last == rns.length && rns.distinct.length == rns.length,
        s"$l: ranks must be exactly 1..${rns.length}")
    }
    // the POINT of α = 0.5: the dominant lang's drawn share shrinks
    // vs its corpus share, the scarcest lang's grows
    val total = drawn.length.toDouble
    val corpus = counts.values.sum.toDouble
    val maxL = counts.maxBy(_._2)._1
    val minL = counts.minBy(_._2)._1
    assert(counts(maxL) > counts(minL), "testdata must be lang-skewed for this test to bite")
    assert(drawnBy(maxL) / total < counts(maxL) / corpus,
      s"dominant $maxL must be downweighted by temperature smoothing")
    assert(drawnBy(minL) / total > counts(minL) / corpus,
      s"scarce $minL must be upweighted by temperature smoothing")
  }

  test("x83: kNN graph is a valid ranked neighbor list per anchor") {
    val rows = run("x83_knn_graph").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(2), "no self edges")
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6)
    }
    rows.groupBy(_.getLong(0)).foreach { case (src, rs) =>
      assert(rs.length <= 3, s"$src: at most 3 neighbors")
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to rs.length), s"$src: ranks must be dense")
      val cs = byRank.map(_.getDouble(3)).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"$src: cosine must be non-increasing in rank")
      assert(byRank.map(_.getLong(2)).distinct.length == rs.length,
        s"$src: neighbors must be distinct")
    }
  }

  test("x84: hub audit equals an independent in-degree fold of the x83 graph") {
    // the two queries share ONE edge builder (knnEdges); this folds the
    // published x83 edges by hand and demands the audit's top-20 — a
    // drift between the queries' edge sets or the micro-unit sum breaks
    // here even if both still match stale oracles
    val edges = run("x83_knn_graph").collect()
    val expected = edges.groupBy(_.getLong(2)).map { case (nbr, rs) =>
      (nbr, rs.length.toLong, rs.map(r => math.round(r.getDouble(3) * 1e6)).sum)
    }.toSeq.sortBy { case (v, d, _) => (-d, v) }.take(20)
    val got = run("x84_hub_audit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("x85: overlap matrix is bounded, ordered, and pairwise-unique") {
    val rows = run("x85_source_overlap").collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "one row per source pair")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "canonical pair order")
      val (sh, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sh >= 1 && sh <= math.min(na, nb),
        s"shared fingerprints must be bounded by the smaller set: $r")
    }
  }

  test("x86: a colliding sketch slot implies a truly shared fingerprint (affine injectivity)") {
    // the affine rehash (a·h + b mod p, p prime, a ≠ 0) is a bijection
    // on the hash space, so equal per-source slot MINIMA can only come
    // from the same preimage — every sketch pair must therefore appear
    // in the exact overlap matrix. This is the soundness half of
    // one-hash-k-permutation MinHash, checked on real data.
    val exact = run("x85_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val sk = run("x86_source_minhash_sim").collect()
    assert(sk.nonEmpty)
    sk.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      val m = r.getLong(2)
      assert(m >= 1 && m <= 16, s"slot matches out of range: $r")
      assert(exact.contains((r.getString(0), r.getString(1))),
        s"sketch pair ${r.getString(0)}/${r.getString(1)} not in the exact matrix")
    }
  }

  test("x87: one medoid per trained cell, dominating the cell's mean cohesion") {
    val med = run("x87_coreset_medoids").collect()
    // x68 shares the identical trained assignment (same ivfScored
    // argmax), so its per-cell mean is a lower bound for the argmax
    val meanByCid = run("x68_quantizer_distortion").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(med.length == meanByCid.size, "exactly one medoid per cell")
    assert(med.map(_.getLong(0)).distinct.length == med.length)
    assert(med.map(_.getLong(1)).distinct.length == med.length,
      "a vector can represent at most one cell")
    med.foreach { r =>
      val (cid, cos) = (r.getLong(0), r.getDouble(2))
      assert(cos <= 1.000001 && cos >= -1.000001)
      assert(cos >= meanByCid(cid) - 1e-9,
        s"medoid of cell $cid scores below the cell mean")
    }
  }

  test("x88: drift equals an independent fold over x27's per-doc qualities") {
    // full recomputation in plain Scala from the published x27 frame:
    // bins from the SAME doubles Spark binned, every |c·T − C_b·n_s|
    // term summed over ALL bins (the query's Σ-trick covers unobserved
    // bins via T − Σ_obs C_b — this fold proves that identity on data)
    val srcOf = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bins = run("x27_quality_score").collect()
      .map(r => (srcOf(r.getLong(0)), math.floor(r.getDouble(4) * 10).toLong))
    val total = bins.length.toLong
    val corpusBins = bins.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
    val expected = bins.groupBy(_._1).map { case (s0, xs) =>
      val ns = xs.length.toLong
      val cs = xs.groupBy(_._2).map { case (b, ys) => b -> ys.length.toLong }
      val drift = corpusBins.map { case (b, cbv) =>
        math.abs(cs.getOrElse(b, 0L) * total - cbv * ns)
      }.sum
      (s0, ns, drift)
    }.toSet
    val got = run("x88_source_quality_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("signBitsFor: occupancy-bounded width, floor at the historical 6 bits") {
    import graft.operators.LlmData.signBitsFor
    // floor: every spec-SF corpus stays on 6 bits (oracle hashes fixed)
    assert(signBitsFor(500) == 6 && signBitsFor(2000) == 6)
    // boundary: 2^6·125/4 = 2000 is the last 6-bit corpus
    assert(signBitsFor(2001) == 7)
    // bench-scale sf1 corpus (20k vectors) needs 10 bits: 2^10·125 ≥ 4N
    assert(signBitsFor(20000) == 10)
    // the invariant the dial exists for: expected occupancy ≤ 31.25
    for (n <- Seq(100L, 3000L, 50000L, 1000000L, 100000000L)) {
      val b = signBitsFor(n)
      assert(n.toDouble / (1L << b) <= 31.25, s"occupancy unbounded at $n")
      assert(b >= 6 && b <= 62)
    }
  }

  test("x89: coverage curve folds independently; x90 conserves its total") {
    // independent greedy-first-pass fold over the raw (source, fp)
    // pairs — attribution to the best-ranked containing source is the
    // same as the running set-union marginal, which is what this fold
    // computes directly
    val pairs = graft.operators.LlmData.sourceHashRows(spark, sf0001)
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = pairs.groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2).toSet }
    val order = bySrc.toSeq.sortBy { case (s0, st) => (-st.size, s0) }
    val expected = scala.collection.mutable.ListBuffer.empty[(Int, String, Long, Long, Long)]
    val seen = scala.collection.mutable.Set.empty[Long]
    order.zipWithIndex.foreach { case ((s0, st), i) =>
      val marginal = (st -- seen).size.toLong
      seen ++= st
      expected += ((i + 1, s0, st.size.toLong, marginal, seen.size.toLong))
    }
    val got = run("x89_coverage_curve").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == expected.toList)

    // conservation across families: every fingerprint is "new" exactly
    // once in x90's crawl-order walk, and covered exactly once in
    // x89's attribution — both totals are |distinct fingerprints|
    val novelSum = run("x90_novelty_profile").collect().map(_.getLong(2)).sum
    assert(got.last._5 == novelSum,
      "x89 final cumulative and x90 novel total must both equal |distinct fps|")
    assert(novelSum == pairs.map(_._2).distinct.length.toLong)
  }

  test("x91: scrub emits exactly x39's flagged docs; counts and text reconcile") {
    // same shingle space ⇒ a doc has a removable span iff it is
    // flagged; token conservation: clean_text carries exactly the
    // kept tokens in order
    val flagged = run("x39_decontamination").collect().map(_.getLong(0)).toSet
    val rows = run("x91_decontam_scrub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSet == flagged,
      "scrubbed docs must be exactly the x39-flagged set")
    rows.foreach { case (d, nt, nr, txt) =>
      assert(nr >= 3 && nr <= nt, s"doc $d: one hit covers a 3-token window")
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(kept == nt - nr, s"doc $d: clean text must carry exactly the kept tokens")
    }
  }

  test("x95: fixpoint rounds conserve tokens; round 1 is exactly the x91 pass") {
    val rows = run("x95_scrub_fixpoint").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1) sameElements Array(1L, 2L, 3L), "three fixed rounds")
    // conservation: each round removes exactly what it flags
    import org.apache.spark.sql.functions.{col, size, split, sum}
    val total = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") % 50 =!= 0)
      .agg(sum(size(split(col("text"), " ")).cast("long")))
      .collect()(0).getLong(0)
    rows.foldLeft(total) { case (before, (r, _, removed, left)) =>
      assert(left == before - removed,
        s"round $r: tokens_left must be the previous total minus this round's removals")
      left
    }
    // round 1 IS the x91 pass (same flag semantics, same coverage):
    // flagged-doc and removed-token counts must reconcile exactly
    val x91 = run("x91_decontam_scrub").collect()
    assert(rows(0)._2 == x91.length.toLong,
      "round-1 flagged docs must equal x91's changed-doc count")
    assert(rows(0)._3 == x91.map(_.getLong(2)).sum,
      "round-1 removed tokens must equal x91's total")
    // a flagged round must remove something; a clean round must not
    rows.foreach { case (r, flagged, removed, _) =>
      assert((flagged == 0) == (removed == 0),
        s"round $r: flags and removals must vanish together")
      if (flagged > 0) assert(removed >= 3 * 1,
        s"round $r: one hit covers a 3-token window")
    }
  }

  test("x96: no near-dup candidate pair straddles the split; clusters draw whole") {
    val rows = run("x96_leakage_split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 500, "every corpus doc must receive a split")
    val split = rows.map(t => t._1 -> t._3).toMap
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length == 1,
        s"cluster $c must land entirely in one split")
    }
    assert(rows.count(_._3 == "holdout") > 0 && rows.count(_._3 == "train") > 0,
      "both splits must be non-empty at spec SF")
    // the DIRECT leakage check, on the actual candidate graph: every
    // near-dup pair x23/x36 would report shares its split assignment
    val pairs = run("x23_simhash_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the corpus plants near-dups; the graph must be non-trivial")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) must not straddle the train/holdout boundary")
    }
    // multi-member clusters exist (else the operator is vacuously a
    // doc-level draw on this corpus)
    assert(byCluster.values.exists(_.length > 1),
      "at least one near-dup cluster must have >1 member")
  }

  test("x97: sketch quantiles honor the declared error bound against exact x54") {
    val exact = run("x54_length_quantiles").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val sk = run("x97_hist_quantiles").collect()
    assert(sk.length == exact.size, "one sketch row per lang")
    sk.foreach { r =>
      val lang = r.getString(0)
      val (n, p50, p90, p99) = exact(lang)
      assert(r.getLong(1) == n, s"$lang: sketch must see every doc")
      val bound = r.getLong(5)
      assert(bound == 32L, "the declared tolerance is part of the contract")
      Seq(r.getLong(2) -> p50, r.getLong(3) -> p90, r.getLong(4) -> p99)
        .foreach { case (est, ex) =>
          // the true rank-q value lies INSIDE the selected bin, whose
          // exclusive upper edge is the estimate: 0 < est - exact <= 32
          assert(est > ex && est - ex <= bound,
            s"$lang: estimate $est must upper-bound exact $ex within $bound")
        }
    }
  }

  test("x92: keep-first dup-span scrub — the earliest long doc survives untouched") {
    val rows = run("x92_dupspan_scrub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty, "the corpus plants near-dup copies; spans must be found")
    // the earliest >=10-token doc is first for every gram it contains,
    // so keep-first can never emit it
    import org.apache.spark.sql.functions.{col, size, split, min}
    val earliestLong = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(size(split(col("text"), " ")) >= 10)
      .agg(min("doc_id")).collect()(0).getLong(0)
    assert(!rows.map(_._1).contains(earliestLong),
      "keep-first must leave the first occurrence intact")
    rows.foreach { case (d, nt, nr, txt) =>
      assert(nr >= 10 && nr <= nt, s"doc $d: one bad start covers a 10-token window")
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(kept == nt - nr, s"doc $d: clean text must carry exactly the kept tokens")
    }
  }

  test("x90: novelty profile is well-formed; the earliest doc is fully novel") {
    val rows = run("x90_novelty_profile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "one row per doc")
    rows.foreach { case (d, nfp, nn, nm) =>
      assert(nfp >= 1 && nn >= 0 && nn <= nfp, s"doc $d: counts out of range")
      assert(nm == nn * 1000000L / nfp, s"doc $d: micro-units must replay exactly")
    }
    val firstDoc = rows.minBy(_._1)
    assert(firstDoc._2 == firstDoc._3, "the earliest doc's fingerprints are all first-seen")
  }

  test("x98: importance weights separate the target language; scores are exact integers") {
    val rows = run("x98_dsir_weights").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 100, "top-100 selection at spec SF (corpus has 500 docs)")
    assert(rows.map(_._1).distinct.length == rows.length, "one row per doc")
    // ordering contract: descending score, doc_id tie-break
    rows.sliding(2).foreach { case Array((da, _, _, sa), (db, _, _, sb)) =>
      assert(sa > sb || (sa == sb && da < db), "rank order must be total")
    }
    // the operator's reason to exist: target-language docs score higher
    // on average than the rest — and dominate the selected top slice
    val enShare = rows.count(_._2 == "en").toDouble / rows.length
    val corpusEnShare = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .count().toDouble / 500
    assert(enShare > corpusEnShare,
      f"selected en share $enShare%.2f must exceed corpus share $corpusEnShare%.2f " +
        "or the ratio table is not discriminating")
    rows.foreach { case (d, _, nt, _) =>
      assert(nt >= 1, s"doc $d: every document tokenizes to at least one bucket draw")
    }
  }

  test("x99: waterfall attribution is consistent with the x52 gate") {
    val wf = run("x99_rule_waterfall").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(wf.map(_._1).toSeq == Seq(1, 2, 3, 4), "fixed rule order")
    wf.foreach { case (o, rule, nFail, nSole, nMarg) =>
      assert(nSole <= nFail, s"$rule: sole-fails are fails")
      assert(nMarg <= nFail, s"$rule: marginal removals are fails")
      assert(nSole <= nMarg || o == 1,
        s"$rule: a sole-fail survives every earlier rule, so it counts as marginal")
    }
    assert(wf.head._3 == wf.head._5, "rule 1's marginal removal IS its fail count")
    // conservation against the registered gate: the waterfall removes
    // exactly the docs x52 rejects, partitioned without overlap
    val x52 = run("x52_gopher_rules").collect()
    val nRejected = x52.count(!_.getBoolean(5))
    assert(wf.map(_._5).sum == nRejected.toLong,
      "sum of marginal removals must equal the x52 reject count")
    assert(wf.map(_._3).max > 0, "the synthetic corpus must trip at least one rule")
  }

  test("x100: verdicts partition the batch and agree with x20/x22 ground truth") {
    import org.apache.spark.sql.functions.{col, conv, md5, pmod, substring, lit}
    val verdicts = run("x100_incremental_dedup").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .withColumn("is_batch",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(10)) === 0)
      .select("doc_id", "text", "is_batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val batch = docs.filter(_._3)
    assert(verdicts.size == batch.length, "one verdict per batch doc, none extra")
    // exact tier ground truth: recompute digests driver-side
    val corpusTexts = docs.filterNot(_._3).map(_._2).toSet
    batch.foreach { case (d, text, _) =>
      val exactDup = corpusTexts.contains(text)
      if (exactDup) assert(verdicts(d) == "exact_dup",
        s"doc $d: identical corpus text must rank as exact_dup (highest precedence)")
      else assert(verdicts(d) != "exact_dup",
        s"doc $d: exact_dup claimed without an identical corpus text")
    }
    // near tier ground truth: x22's registered pair list, cross-split only
    val isBatch = docs.map(t => t._1 -> t._3).toMap
    val nearFromPairs = run("x22_minhash_lsh_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => isBatch(a) != isBatch(b) }
      .map { case (a, b) => if (isBatch(a)) a else b }.toSet
    verdicts.foreach { case (d, v) =>
      if (v == "near_dup") assert(nearFromPairs.contains(d),
        s"doc $d: near_dup must be witnessed by a cross-split x22 pair")
      if (v == "new") assert(!nearFromPairs.contains(d),
        s"doc $d: a cross-split x22 pair exists, verdict cannot be new")
    }
    assert(verdicts.values.toSet.contains("new"),
      "a 10% batch draw must contain genuinely new docs at spec SF")
  }

  test("x102: the funnel replays exactly the four registered stage rules") {
    import org.apache.spark.sql.functions.{col, size, split}
    val funnel = run("x102_pipeline_funnel").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(funnel.map(_._2).toSeq ==
      Seq("exact_dup", "near_dup", "decontam", "quality"), "canonical stage order")
    // reconstruct every stage flag from the operators the funnel
    // claims to summarize, then replay the waterfall driver-side
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nTok = docs.toMap
    val keepers = run("x20_exact_dedup_groups").collect()
      .map(_.getLong(2)).toSet // min doc_id per digest group
    val nonSurvivors = run("x36_neardup_components").collect()
      .filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val contaminated = run("x39_decontamination").collect()
      .map(_.getLong(0)).toSet
    val rejected = run("x52_gopher_rules").collect()
      .filter(!_.getBoolean(5)).map(_.getLong(0)).toSet
    val stages: Seq[Long => Boolean] = Seq(
      d => !keepers.contains(d), d => nonSurvivors.contains(d),
      d => contaminated.contains(d), d => rejected.contains(d))
    var remaining = docs.map(_._1).toSet
    var tokensLeft = docs.map(_._2).sum
    funnel.zip(stages).foreach { case ((o, st, dRem, tRem, dLeft, tLeft), pred) =>
      val removed = remaining.filter(pred)
      val tRemoved = removed.toSeq.map(nTok).sum
      assert(dRem == removed.size.toLong && tRem == tRemoved,
        s"stage $st: marginal removals must replay the registered rule")
      remaining --= removed; tokensLeft -= tRemoved
      assert(dLeft == remaining.size.toLong && tLeft == tokensLeft,
        s"stage $st: running corpus size must be conserved")
    }
    // the spec corpus plants near-dups (planted "… dup" copies — not
    // byte-identical, so the EXACT stage may legitimately read 0) and
    // trips quality rules; those two stages must bite or the funnel
    // is summarizing nothing
    assert(funnel(1)._3 > 0 && funnel(3)._3 > 0,
      "near-dup and quality stages must remove documents on the spec corpus")
  }

  test("x103: every query gets a full ranked slate; query 0 agrees with exact x24") {
    val rows = run("x103_batch_ann").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.keys.forall(q => q % 100 == 0 && q < 2000),
      "queries are every 100th vector below the 2000 cap")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(Array(1, 2, 3, 4, 5)),
        s"query $q must get exactly ranks 1..5")
      assert(rs.sortBy(_._2).map(_._4).sliding(2).forall(p => p(0) >= p(1)),
        s"query $q: cosine must be non-increasing in rank")
      rs.foreach { case (_, _, v, c) =>
        // the query set is vec_id % 100 == 0 AND vec_id < 2000; a
        // vector like 2000 on a bigger corpus is legitimately corpus
        assert(v % 100 != 0 || v >= 2000, "query vectors are not corpus")
        assert(c >= -1.000001 && c <= 1.000001)
      }
    }
    // the single-query baseline is the same computation: x24's exact
    // top-10 for vector 0, minus vectors the batch query excludes as
    // queries, must prefix-match batch query 0's slate
    val exact = run("x24_topk_cosine").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter(r => r._1 % 100 != 0 || r._1 >= 2000)
    val batch0 = byQ(0L).sortBy(_._2).map(r => (r._3, r._4))
    val n = math.min(5, exact.length)
    assert(batch0.take(n).sameElements(exact.take(n)),
      "batched retrieval must reproduce the exact single-query ranking")
  }

  test("x101: the indexed probe returns exactly x100's verdicts") {
    // same draw, same band keys, same confirm threshold — the index is
    // a LAYOUT change; any verdict delta means the persisted tables
    // drifted from the inline definitions they materialize
    val inline = run("x100_incremental_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val indexed = run("x101_dedup_index_probe").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(indexed.sameElements(inline),
      "indexed probe verdicts must be byte-identical to the inline query")
    assert(inline.map(_._2).distinct.sorted.sameElements(
      Array("exact_dup", "near_dup", "new").filter(inline.map(_._2).contains)),
      "sanity: verdict vocabulary is closed")
  }

  test("x104: BM25 slate is ordered, positive, and term-containment honest") {
    import org.apache.spark.sql.functions.{col, size, split}
    val terms = Seq("spark", "join", "window", "stream", "vector", "customer")
    val rows = run("x104_bm25_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.sliding(2).forall { case Array((ia, _, sa), (ib, _, sb)) =>
      sa > sb || (sa == sb && ia < ib)
    }, "slate must descend in score with doc_id tie-break")
    rows.foreach { case (_, nHit, score) =>
      assert(nHit >= 1 && nHit <= terms.length.toLong)
      assert(score > 0L, "a matching doc scores strictly positive micro-units")
    }
    // containment + n_hit honesty: recount the distinct query terms each
    // returned doc actually contains, straight off the corpus
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id").isin(rows.map(_._1): _*))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => r.getLong(0) ->
        terms.count(r.getSeq[String](1).toSet.contains).toLong)
      .toMap
    rows.foreach { case (id, nHit, _) =>
      assert(docs.contains(id), s"doc $id must exist in the corpus")
      assert(docs(id) == nHit, s"doc $id: n_hit must equal the recount")
    }
  }

  test("bm25 serve: under-filled slate admits every arrival; doc_id 0 batches are scored") {
    import spark.implicits._
    import graft.operators.LlmData
    // ADVICE r10: with k beyond the matching population the slate is
    // under-filled — an index refresh would surface ANY arriving match,
    // so the admission floor must collapse to Long.MinValue, not sit at
    // the weakest existing doc's score.
    val staged = LlmData.bm25Staged(spark, sf0001)
    val nMatch = staged.select("doc_id").distinct().count().toInt
    val serve = LlmData.bm25FrozenServe(spark, sf0001, k = nMatch + 5)
    // one query-term hit diluted across ~200 filler tokens → scores far
    // below the corpus minimum (guarded below), the exact doc the old
    // min()-floor wrongly rejected
    val filler = Seq.fill(200)("pebble").mkString(" ")
    val weak = Seq((930001L, s"spark $filler", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = serve(weak).collect()
    assert(w.length == 1)
    val corpusMin = LlmData.bm25TopK(spark, sf0001, nMatch + 5)
      .collect().map(_.getLong(2)).min
    assert(w.head.getAs[Long]("bm25_micro") < corpusMin,
      "guard: the planted doc must score below the weakest corpus doc for this pin to bite")
    assert(w.head.getAs[Boolean]("enters_topk"),
      "an under-filled slate admits every arriving match — floor must be MinValue, not min(score)")
    // ADVICE r10: the corpus query-anchor exclusion (doc_id 0) is a
    // corpus-staging concern; a serve batch carrying doc_id 0 must be
    // scored, not silently dropped.
    val anchor = Seq((0L, "spark join window", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = LlmData.bm25ServeScore(spark, anchor, sf0001).collect()
    assert(a.map(_.getLong(0)).toSeq == Seq(0L),
      "a batch doc with id 0 must be scored by the serve gate")
  }

  test("x105: RRF scores recompute from the printed ranks; lexical ranks agree with x104") {
    val fused = run("x105_rrf_fusion").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(fused.nonEmpty && fused.length <= 10)
    fused.foreach { case (id, lex, dense, rrf) =>
      assert(id != 0L, "id 0 is the query anchor in both modalities")
      assert(lex >= 0 && lex <= 50 && dense >= 0 && dense <= 50)
      assert(lex > 0 || dense > 0, "a fused doc was retrieved by some modality")
      val expect = (if (lex > 0) 1000000L / (60 + lex) else 0L) +
        (if (dense > 0) 1000000L / (60 + dense) else 0L)
      assert(rrf == expect, s"doc $id: rrf_micro must fold from the ranks")
    }
    assert(fused.sliding(2).forall { case Array((ia, _, _, sa), (ib, _, _, sb)) =>
      sa > sb || (sa == sb && ia < ib)
    }, "fusion must descend in rrf with id tie-break")
    // the lexical list underneath is the registered x104 ranking: a fused
    // row carrying lex_rank r <= 20 must name exactly x104's r-th doc
    val lex20 = run("x104_bm25_topk").collect().map(_.getLong(0))
    fused.filter(r => r._2 >= 1 && r._2 <= lex20.length).foreach {
      case (id, lex, _, _) =>
        assert(lex20(lex - 1) == id,
          s"lex_rank $lex must point at x104's doc ${lex20(lex - 1)}, got $id")
    }
  }

  test("x107: selection replays the driver-side greedy fill exactly") {
    import graft.operators.LlmData
    // independent twin: score via the registered model, sort best-first
    // on the driver (the corpus is spec-sized), fill the 10% budget
    // greedily, and the per-lang aggregates must match bit-for-bit
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    val scored = LlmData.dsirScore(docs, LlmData.dsirRatioTable(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val budget = scored.map(_._3).sum / 10
    var cum = 0L
    val picked = scored.sortBy(r => (-r._4, r._1)).takeWhile { r =>
      cum += r._3; cum <= budget
    }
    assert(picked.nonEmpty, "a 10% budget must admit at least one doc")
    val expect = picked.groupBy(_._2).map { case (lang, rs) =>
      lang -> (rs.length.toLong, rs.map(_._3).sum) }
    val got = run("x107_token_budget_select").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect,
      "bin-partitioned cumsum must equal the driver-side greedy fill")
    assert(got.values.map(_._2).sum <= budget, "selection must fit the budget")
  }

  test("x108: negatives are cross-label, ranked, and genuinely hard") {
    val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rows = run("x108_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val byA = rows.groupBy(_._1)
    byA.foreach { case (a, rs) =>
      assert(rs.map(_._2).sorted.sameElements(Array(1, 2, 3)),
        s"anchor $a must get exactly ranks 1..3")
      assert(rs.sortBy(_._2).map(_._5).sliding(2).forall(p => p(0) >= p(1)),
        s"anchor $a: cosine must be non-increasing in rank")
      rs.foreach { case (_, _, v, lbl, _) =>
        assert(e(v) == lbl, s"printed label must be vector $v's label")
        assert(lbl != e(a), s"anchor $a: a negative must carry a different label")
        assert(v % 100 != 0 || v >= 2000, "anchors are not negatives")
      }
    }
  }

  test("x109: full pair matrix, bounded cosines, one pair recomputed from raw floats") {
    val rows = run("x109_centroid_drift").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    assert(rows.length == 45, "10 labels yield exactly C(10,2) = 45 pairs")
    assert(rows.forall { case ((a, b), _) => a < b }, "canonical upper triangle")
    assert(rows.forall { case (_, c) => c >= -1.000001 && c <= 1.000001 })
    // independent recompute of pair (0, 1) straight off the raw table,
    // through the same integer micro-unit route
    val vecs = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .collect().map(r => r.getInt(2) -> r.getSeq[Float](1))
    def sums(lbl: Int): Array[Long] = {
      val vs = vecs.filter(_._1 == lbl).map(_._2)
      Array.tabulate(64)(i =>
        vs.map(v => math.round(v(i).toDouble * 1000000)).sum)
    }
    val (s0, s1) = (sums(0), sums(1))
    val dot = s0.zip(s1).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val n0 = s0.map(x => BigInt(x) * BigInt(x)).sum
    val n1 = s1.map(x => BigInt(x) * BigInt(x)).sum
    val expect = BigDecimal(dot.toDouble /
      (math.sqrt(n0.toDouble) * math.sqrt(n1.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.toMap.apply((0, 1))
    assert(math.abs(got - expect) < 1e-9,
      s"pair (0,1): engine $got vs raw-float recompute $expect")
  }

  test("q48: z-order layout dominates linear under the 2-D predicate") {
    val rows = SparkEntry.queries("q48_zorder_prune")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet == Set("zorder", "linear"))
    val (zt, zs, zr) = rows("zorder")
    val (lt, ls, lr) = rows("linear")
    assert(zt == 64L && lt == 64L, "both layouts bin into 64 files")
    assert(zs >= 1L && ls >= 1L, "the predicate region is populated")
    assert(zs <= ls, "z-order must scan no more files than the linear sort")
    assert(zr <= lr, "z-order must scan no more rows than the linear sort")
    assert(zr >= 1L, "scanned z-order files hold the predicate's rows")
  }
}
