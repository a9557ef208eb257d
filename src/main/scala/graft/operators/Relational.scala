package graft.operators

import graft.Q
import graft.functions.Rounding.{duckRound, pround}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core — the reference's full analytics/monitoring SQL
  * surface (SURVEY.md §2.2–§2.8, mapped onto the testdata star schema
  * per §7.2) as Spark-first queries, each with a DuckDB oracle twin.
  *
  * Scale notes (100 TB discipline, applies to every query here):
  *   - dims (nation/region/customer/part at these SFs) broadcast via
  *     Spark's auto broadcast threshold + AQE; the fact side never
  *     shuffles for a broadcast join
  *   - top-k is orderBy+limit ⇒ physical TakeOrderedAndProject (per
  *     partition heap, no global sort)
  *   - aggregates are partial (map-side) + final hash aggregates; the
  *     only full shuffles are on the groupBy keys themselves
  *   - double outputs are deterministic: exact integer-valued sums
  *     (cents trick) or explicit sum/count division + round — never a
  *     bare float accumulation whose partial-order could flip a bit
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shared exact cents sum (graft.functions.Rounding.sumCents). */
  private def sumCents(c: Column): Column = graft.functions.Rounding.sumCents(c)

  val queries: Map[String, Q] = Map(

    // ── Flagship: top-10 by price over a 3-way star join ──────────────
    // Reference: "Most Popular Songs" fact⋈artist⋈album ORDER BY
    // popularity DESC LIMIT 10 (README.md:234-244). J1+J2+T1.
    "q01_top10_star_join" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .select(o("o_orderkey"), c("c_name"), n("n_name"), o("o_totalprice"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, c_name, n_name, o_totalprice
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      "fact⋈dim⋈dim top-k; broadcast joins + TakeOrderedAndProject"),

    // ── Percentage-of-total via empty-frame window ────────────────────
    // Reference: album-type distribution, COUNT(*)*100.0/SUM(COUNT(*))
    // OVER () (README.md:249-255). A4+W1+F10/F11.
    "q02_pct_by_priority" -> Q(
      (s, dir) => {
        val w = Window.partitionBy()
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("pct", pround(col("cnt") * 100.0 / sum("cnt").over(w), 2))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS cnt,
              |       ${duckRound("count(*) * 100.0 / sum(count(*)) OVER ()", 2)} AS pct
              |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "grouped count + % of total; window input is post-agg (tiny), single-partition window is safe"),

    // ── Labeled row counts, UNION ALL ─────────────────────────────────
    // Reference: per-table health counts (README.md:207-212). A1+T2.
    "q03_rowcount_health" -> Q(
      (s, dir) => {
        def cnt(name: String): DataFrame =
          t(s, dir, name).agg(count(lit(1)).as("n")).select(lit(name).as("tbl"), col("n"))
        cnt("customer").unionByName(cnt("orders")).unionByName(cnt("lineitem"))
          .unionByName(cnt("part")).unionByName(cnt("events"))
          .orderBy("tbl")
      },
      Some("""SELECT * FROM (
             |  SELECT 'customer' AS tbl, count(*) AS n FROM customer UNION ALL
             |  SELECT 'orders', count(*) FROM orders UNION ALL
             |  SELECT 'lineitem', count(*) FROM lineitem UNION ALL
             |  SELECT 'part', count(*) FROM part UNION ALL
             |  SELECT 'events', count(*) FROM events) ORDER BY tbl""".stripMargin),
      "global counts (no grouping keys ⇒ partial+final agg, 1-row exchange each)"),

    // ── Global MIN/MAX freshness ──────────────────────────────────────
    // Reference: SELECT MAX(loaded_at) FROM tblSongs (README.md:215). A2.
    "q04_freshness_max" -> Q(
      (s, dir) => t(s, dir, "events")
        .agg(max("ts").as("max_ts"), min("ts").as("min_ts"), count(lit(1)).as("n")),
      Some("SELECT max(ts) AS max_ts, min(ts) AS min_ts, count(*) AS n FROM events"),
      "min/max over event time; map-side partials, single final row"),

    // ── AVG latency in minutes over a literal recency window ──────────
    // Reference: AVG(TIMESTAMPDIFF(MINUTE, extracted_at, loaded_at))
    // with 7-day lookback (README.md:220-226). A3+P4+F8/F9. Exact
    // integer-millis sum, one double division ⇒ deterministic.
    "q05_latency_avg" -> Q(
      (s, dir) => {
        val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .filter(o("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .agg(
            pround(sum(unix_millis(l("l_shipdate")) - unix_millis(o("o_orderdate")))
              / 60000.0 / count(lit(1)), 4).as("avg_minutes"),
            count(lit(1)).as("n"))
      },
      Some(s"""SELECT ${duckRound(
                "sum(epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 / count(*)", 4)}
              |         AS avg_minutes,
              |       count(*) AS n
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin),
      "date arithmetic + literal pivot (no current_date: nondeterministic across engines)"),

    // ── Deterministic dedup: latest row per key ───────────────────────
    // Reference: transform-stage deduplication (README.md:49,51) —
    // window row_number, not dropDuplicates (whose survivor is
    // plan-dependent). N3/W2.
    "q06_dedup_latest" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
      "latest-record-wins dedup; one shuffle on the dedup key, scales by key partitioning"),

    // ── Incremental load: new rows with no prior sighting of the key ──
    // Reference: "only new/updated tracks processed" (README.md:51). N5/J3.
    // Single-scan formulation: min(ts) over the key partition replaces
    // the r1 double-scan + shuffle-both-sides anti-join (one scan, one
    // from_json pass, one shuffle — identical insert-only semantics,
    // assuming non-null keys, which `props` guarantees).
    "q07_incremental_antijoin" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events").withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        val cut = lit("2024-01-15").cast("timestamp")
        val w = Window.partitionBy("user_id", "k")
        // NULL keys: the window groups NULLs together, but SQL equality
        // (the oracle's NOT EXISTS on user_id AND k) never matches a
        // NULL in EITHER column — such a row has no prior sighting by
        // definition and is kept regardless of its null-group's min_ts
        e.withColumn("min_ts", min("ts").over(w))
          .filter(col("ts") >= cut &&
            (col("k").isNull || col("user_id").isNull || col("min_ts") >= cut))
          .select("event_id", "ts", "user_id", "event_type", "value", "k")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events e
             |WHERE ts >= TIMESTAMP '2024-01-15' AND NOT EXISTS (
             |  SELECT 1 FROM events o
             |  WHERE o.ts < TIMESTAMP '2024-01-15' AND o.user_id = e.user_id
             |    AND CAST(json_extract_string(o.props, '$.k') AS BIGINT)
             |        = CAST(json_extract_string(e.props, '$.k') AS BIGINT))
             |ORDER BY event_id""".stripMargin),
      "insert-only incremental semantics as left_anti; shuffles both sides on the key"),

    // ── Referential integrity: orphan FK counts ───────────────────────
    // Reference: transform-stage FK validation (README.md:49). N4/J3.
    "q08_integrity_orphans" -> Q(
      (s, dir) => {
        val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val p = t(s, dir, "part"); val c = t(s, dir, "customer")
        def orphans(fact: DataFrame, dim: DataFrame, fk: String, pk: String, label: String) =
          fact.join(dim, fact(fk) === dim(pk), "left_anti")
            .agg(count(lit(1)).as("orphans")).select(lit(label).as("fk"), col("orphans"))
        orphans(l, p, "l_partkey", "p_partkey", "lineitem_part")
          .unionByName(orphans(l, o, "l_orderkey", "o_orderkey", "lineitem_orders"))
          .unionByName(orphans(o, c, "o_custkey", "c_custkey", "orders_customer"))
          .orderBy("fk")
      },
      Some("""SELECT * FROM (
             |  SELECT 'lineitem_part' AS fk, count(*) AS orphans FROM lineitem
             |    WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey) UNION ALL
             |  SELECT 'lineitem_orders', count(*) FROM lineitem
             |    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) UNION ALL
             |  SELECT 'orders_customer', count(*) FROM orders
             |    WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) ORDER BY fk""".stripMargin),
      "FK closure checks; anti-joins broadcast the dim side when small"),

    // ── Explode + token aggregation ───────────────────────────────────
    // Reference: tracks[]/artists[] array explode (N1,
    // lambda_function.py:149,156). Generator stays inside codegen.
    "q09_explode_tokens" -> Q(
      (s, dir) => t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token"),
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
             |GROUP BY token ORDER BY token""".stripMargin),
      "explode(split()) ⇒ built-in Generate; agg on exploded rows"),

    // ── Scalar-function projection (F1–F15 analogs in one pass) ───────
    "q10_scalar_funcs" -> Q(
      // sort first, format after (the q20 lesson, applied family-wide
      // in r13): a global sort above a map-side projection runs the
      // projection twice (range-sampling + real pass) at scan-stage
      // parallelism; sorting the raw rows keeps the scalar battery
      // single-pass above the exchange. Output multiset and ordering
      // identical (plan-audited in PlanAuditSpec).
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority",
          "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .select(
          col("o_orderkey"),
          format_string("order_%d_%s", col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyyMMdd_HHmmss")).as("file_name"),
          element_at(split(col("o_orderpriority"), "-"), 1).as("prio_code"),
          length(col("o_orderstatus")).as("st_len"),
          col("o_orderpriority").contains("URGENT").as("is_urgent"),
          year(col("o_orderdate")).as("o_year"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso_ts"),
          pround(col("o_totalprice") / 1000.0, 2).as("price_k")),
      Some(s"""SELECT o_orderkey,
              |  printf('order_%d_%s', o_orderkey, strftime(o_orderdate, '%Y%m%d_%H%M%S')) AS file_name,
              |  string_split(o_orderpriority, '-')[1] AS prio_code,
              |  length(o_orderstatus) AS st_len,
              |  contains(o_orderpriority, 'URGENT') AS is_urgent,
              |  year(o_orderdate) AS o_year,
              |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
              |  ${duckRound("o_totalprice / 1000.0", 2)} AS price_k
              |FROM orders ORDER BY o_orderkey""".stripMargin),
      "string/date/math scalars (split/format/length/contains/year/round) — all codegen'd builtins"),

    // ── JSON field extraction + grouped sum ───────────────────────────
    // Reference: raw-layer JSON (de)serialization (F12). from_json with
    // declared schema, never schema_of_json at scale.
    "q11_json_props" -> Q(
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      // outer CAST: DuckDB widens sum(BIGINT) to HUGEINT (INT128); the
      // driver's gate hashes column *types* too, so match Spark's long
      Some("""SELECT event_type,
             |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |       count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "from_json(declared schema) — integer sums, exact"),

    // ── Pricing-summary aggregate (TPC-H Q1 shape) ────────────────────
    // Exercises multi-key hash agg with partial aggregation; all double
    // outputs exact via cents trick or explicit sum/count.
    "q12_lineitem_agg" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sumCents(col("l_extendedprice")).as("sum_price"),
          pround(sum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  sum(l_quantity) AS sum_qty,
              |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price,
              |  ${duckRound("sum(l_quantity) / count(*)", 4)} AS avg_qty,
              |  count(*) AS n
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "partial+final hash agg; sums order-independent by construction"),

    // ── Window functions: rank / dense_rank / lag ─────────────────────
    "q13_window_rank" -> Q(
      (s, dir) => {
        val byStatus = Window.partitionBy("o_custkey").orderBy(col("o_orderstatus"))
        val byDate = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(byStatus).as("status_rank"),
          dense_rank().over(byStatus).as("status_drank"),
          lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
          row_number().over(byDate).as("order_seq"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank,
             |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_drank,
             |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
             |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      "ranking windows; one shuffle on the partition key serves all four functions"),

    // ── Star-join revenue rollup (4-way join + grouped sum) ───────────
    "q14_nation_revenue" -> Q(
      (s, dir) => {
        val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(n("n_name"), r("r_name"))
          .agg(
            (sum(round(l("l_extendedprice") * (lit(1) - l("l_discount")) * 10000, 0)
              .cast("long")) / 10000.0).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, r_name,
             |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY n_name, r_name ORDER BY n_name""".stripMargin),
      "deep star join: dims broadcast, fact never shuffles until the groupBy; revenue exact in 1e-4 units"),

    // ── Set operation: EXCEPT via distinct keys + anti-join ───────────
    // EXCEPT would plan a full-row distinct on BOTH sides; reducing each
    // side to its distinct key first means only narrow key rows shuffle,
    // and the (small) subtrahend broadcasts for the anti-join. Same
    // result set as EXCEPT; survives a skewed user_id at 100×.
    "q15_setops_except" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events")
        val a = e.filter(col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-28").cast("timestamp"))
          .select("user_id").distinct()
        val b = e.filter(col("event_type") === "error" &&
            col("ts") < lit("2024-01-05").cast("timestamp"))
          .select("user_id").distinct()
        // null-safe equality (<=>): EXCEPT subtracts a NULL key present
        // on both sides; a plain equality anti-join would keep it.
        // Explicit aliases: both sides descend from the same scan, and
        // self-join column resolution by df("col") logs a trivially-
        // true-predicate warning even though dataframe-id tagging
        // disambiguates it.
        a.as("exa").join(b.as("exb"),
            col("exa.user_id") <=> col("exb.user_id"), "left_anti")
          .orderBy("user_id")
      },
      Some("""SELECT DISTINCT user_id FROM events
             |WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-28'
             |EXCEPT
             |SELECT user_id FROM events
             |WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-05'
             |ORDER BY user_id""".stripMargin),
      "EXCEPT = distinct + anti semantics; single shuffle on the full row"),

    // ── Semi join: EXISTS ─────────────────────────────────────────────
    "q16_semi_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        c.join(recent, c("c_custkey") === recent("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
             |ORDER BY c_custkey""".stripMargin),
      "left_semi join; filter pushed below the join on the probe side"),

    // ── Recency predicate with literal pivot ──────────────────────────
    // Reference: 7-day lookback WHERE extracted_at >= DATEADD(day,-7,
    // CURRENT_DATE()) (README.md:225), pivot fixed for determinism.
    // Uses Tables.eventsSince so the predicate hits the RAW nanos
    // column and pushes to the parquet scan (row-group pruning) — a
    // filter on the derived timestamp cannot push down.
    "q17_recency_filter" -> Q(
      (s, dir) => Tables.eventsSince(s, dir, "2024-01-23T00:00:00Z")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sumCents(col("value")).as("sum_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM events WHERE ts >= TIMESTAMP '2024-01-23'
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "timestamp range predicate — pushed to the parquet scan (min/max row-group pruning)"),

    // ── URL parse + validate (reference P1/F1–F4) ─────────────────────
    // Reference: extract_playlist_id — split on '/', strip '?', length
    // check (lambda_function.py:80-99). URL synthesized from columns.
    "q18_url_parse" -> Q(
      (s, dir) => {
        val url = concat(lit("https://open.spotify.com/playlist/"),
          lpad(col("doc_id").cast("string"), 22, "0"), lit("?si="), col("source"))
        // sort first, parse after (q20 lesson — see q10); the validate
        // filter above the sort preserves ordering
        t(s, dir, "documents")
          .select("doc_id", "source")
          .orderBy("doc_id")
          .select(col("doc_id"), url.as("url"))
          .withColumn("pid",
            element_at(split(element_at(split(col("url"), "\\?"), 1), "/"), -1))
          .filter(length(col("pid")) === 22 &&
            col("url").contains("spotify.com/playlist/"))
          .select("doc_id", "pid")
      },
      Some("""SELECT doc_id, pid FROM (
             |  SELECT doc_id,
             |    'https://open.spotify.com/playlist/' || lpad(CAST(doc_id AS VARCHAR), 22, '0')
             |      || '?si=' || source AS url,
             |    string_split(string_split(
             |      'https://open.spotify.com/playlist/' || lpad(CAST(doc_id AS VARCHAR), 22, '0')
             |        || '?si=' || source, '?')[1], '/')[-1] AS pid
             |  FROM documents)
             |WHERE length(pid) = 22 AND contains(url, 'spotify.com/playlist/')
             |ORDER BY doc_id""".stripMargin),
      "split/strip/length-validate pipeline, all narrow ops (no shuffle)"),

    // ── Tumbling-window hourly rollup (batch twin of the stream) ──────
    // Reference: near-real-time file-arrival ingest + freshness rollups
    // (README.md:29,43); streaming version in graft.streaming.
    "q19_events_hourly" -> Q(
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          sumCents(col("value")).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("n"), col("sum_value"))
        .orderBy("hour_start"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
             |       count(*) AS n,
             |       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin),
      "event-time tumbling window as groupBy(window()); same plan shape the streaming job uses"),

    // ── MapType access, size(), NULL handling, to_json ────────────────
    // Reference: artist_url = external_urls['spotify'] (F13,
    // lambda_function.py:154,156); total_tracks = len(tracks) (F15,
    // :189); "NULL handling" validation (P3, README.md:49); envelope
    // re-serialization (F12, lambda_function.py:211). props parsed as
    // map<string,string> — the safe choice for unknown keys (§7.5).
    "q20_map_access" -> Q(
      (s, dir) => {
        // PERF (r3 verdict #1): from_json is CodegenFallback, so an inline
        // Column referenced twice parses the JSON twice per row (~44 s on
        // the driver box two rounds running). Stage the parsed map as a
        // materialized column (Text.scala PERF rule); CollapseProject will
        // not re-inline a non-cheap expression used more than once, so the
        // plan keeps exactly one JsonToStructs (asserted in PlanAuditSpec).
        // PERF (r12 directive 4): sort FIRST, parse AFTER. A global sort
        // ABOVE the parse projection executes its child twice — once for
        // the range-partitioner's sampling pass, once for the real pass —
        // so every Jackson parse ran 2×; and the sampling pass over the
        // raw scan prunes to the event_id column alone. Measured at sf1:
        // 7.7→1.9 s warm, identical output multiset AND ordering (the
        // r12 VARIANT evaluation: parse_json+variant_get saves a further
        // ~8% but q20 is the registered F12/F13 from_json/map-access
        // evidence, so the parse stays from_json; q44 covers VARIANT).
        t(s, dir, "events")
          .select("event_id", "event_type", "props")
          .orderBy("event_id")
          .withColumn("pm", from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))
          .select(
            col("event_id"),
            element_at(col("pm"), "k").cast("long").as("k"),
            coalesce(element_at(col("pm"), "missing").cast("long"), lit(-1L)).as("k_or_default"),
            size(split(col("event_type"), "_")).as("n_parts"),
            to_json(struct(col("event_id").as("id"), col("event_type").as("t"))).as("payload"))
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |  coalesce(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1) AS k_or_default,
             |  len(string_split(event_type, '_')) AS n_parts,
             |  to_json(struct_pack(id := event_id, t := event_type)) AS payload
             |FROM events ORDER BY event_id""".stripMargin),
      "MapType access (F13), size() (F15), coalesce null-handling (P3), to_json (F12)"),

    // ── Multi-level aggregate: ROLLUP (bonus beyond the reference) ────
    // Spark plans one Expand + single hash agg for all grouping sets —
    // one shuffle for the whole hierarchy. NULLS FIRST ordering spelled
    // out on both sides (Spark default vs DuckDB NULLS LAST).
    "q21_rollup" -> Q(
      (s, dir) => t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumCents(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
      "ROLLUP grouping sets: Expand + one hash agg, one shuffle for every level"),

    // ── As-of join: latest order at or before each event ──────────────
    // Point-in-time semantics Spark lacks natively, composed from
    // union + keyed window carry-forward (graft.operators.AsOf): one
    // shuffle, linear scan — no quadratic range join. Oracle: DuckDB's
    // native ASOF LEFT JOIN. Right side pre-reduced to one row per
    // (custkey, date) so the match is deterministic on both engines.
    "q22_asof_join" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
          .agg(max("o_orderkey").as("match_orderkey"))
        AsOf.joinAsOf(e, o, key = "user_id", leftTime = "ts",
            rightTime = "o_orderdate", payload = Seq("match_orderkey"),
            leftId = "event_id")
          .select("event_id", "user_id", "ts", "match_orderkey")
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
             |           FROM orders GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS match_orderkey
             |FROM events e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
             |ORDER BY event_id""".stripMargin),
      "as-of join via union + window carry-forward; one shuffle, no range explode"),

    // ── Salted aggregation under the oracle (skew-mitigation twin) ────
    // Same results as a direct groupBy — the salt exists purely to
    // spread a hot key over (key, salt) reducers; the oracle is the
    // plain aggregation. l_quantity is integer-valued, so the two-phase
    // double sum is exact under any partial order.
    "q23_salted_agg" -> Q(
      (s, dir) => Skew.saltedSumCount(
          t(s, dir, "lineitem")
            .select(col("l_returnflag").as("key"), col("l_quantity").as("v")),
          "key", "v", salts = 8)
        .orderBy("key"),
      Some("""SELECT l_returnflag AS key, sum(l_quantity) AS sum_v, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY key""".stripMargin),
      "two-phase salted aggregation == direct groupBy; hot keys spread over 8 reducers"),

    // ── Event-time session windows (gap = 30 minutes) ─────────────────
    // Spark's session_window MERGES an event arriving exactly at the
    // session end (new session only when the gap EXCEEDS the duration
    // — verified empirically on this Spark build); the DuckDB twin is
    // the classic gaps-and-islands (lag + cumulative session counter)
    // with the matching strict > boundary. Streaming twin:
    // EventStream.sessionRollup (same expressions).
    "q24_session_windows" -> Q(
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sumCents(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      Some("""WITH x AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |              > INTERVAL '30 minutes'
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |y AS (SELECT *, sum(new_s) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n,
             |       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM y GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin),
      "session_window event-time sessionization; oracle = gaps-and-islands"),

    "q25_range_join" -> q25,
    "q26_gsets" -> q26,
    "q27_gapfill" -> q27,
    "q28_bloomjoin" -> q28,
    "q29_scd2" -> q29,
    "q30_pivot" -> q30,
    "q31_pagerank" -> q31,
    "q32_funnel" -> q32,

    // ── Salted JOIN under a deliberately hot key (bench-scale skew) ───
    // 90% of events collapse onto one join key — the hot-key layout
    // that drowns a single reducer at 100 TB. The registered form is
    // the MITIGATED one: Skew.saltedJoin spreads the hot key over
    // (key, salt) reducers; result rows are identical to the plain
    // join, so the oracle is the unsalted SQL. The dim side carries a
    // shuffle_hash hint because at bench SF Spark would broadcast the
    // 15K-row dim and no shuffle (hence no skew, no salt) would ever
    // materialize — the hint pins the plan to the shape the operator
    // exists for (neither side broadcastable), and PlanAuditSpec
    // asserts the shuffle keys actually include the salt. SkewSpec
    // measures the spread (max reducer-key row count drops ≥4× on the
    // hot key) and demonstrates the AQE skew-split alternative
    // engaging (SortMergeJoin(skew=true)) under production-shape
    // thresholds.
    "q45_skew_salted_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(when(pmod(col("user_id"), lit(10)) < 9, lit(1L))
            .otherwise(col("user_id")).as("hk"), col("value"))
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("hk"), col("c_mktsegment"))
        Skew.saltedJoin(ev, dim.hint("shuffle_hash"), "hk", salts = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sumCents(col("value")).as("sum_value"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c.c_mktsegment, count(*) AS n,
             |  sum(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM (SELECT CASE WHEN user_id % 10 < 9 THEN 1 ELSE user_id END AS hk,
             |             value
             |      FROM events) e
             |JOIN customer c ON e.hk = c.c_custkey
             |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),
      "salted fact⋈dim under a 90%-hot key == plain join; hot key spread over 8 reducers"),

    // ── Bucketed FACT⋈FACT co-located join (the layout lever) ─────────
    // The join class broadcast cannot touch — neither side fits an
    // executor at 100 TB. Both facts are written ONCE per (session,
    // corpus) bucketed + per-bucket sorted on the join key
    // (io.Bucketing; the layout shuffle is paid at write time), and
    // the registered query is the consumer: scan ⋈ scan ⋈ groupBy on
    // the bucket key with ZERO Exchange anywhere — the scans
    // themselves report hashpartitioning, so Catalyst deletes every
    // shuffle AND the SMJ sorts (one file per bucket). The merge hint
    // pins the strategy the big cluster would pick (at bench SF the
    // orders side would auto-broadcast and the layout under test
    // would sit unused). PlanAuditSpec asserts Bucketed scans + zero
    // Exchange on the executed plan.
    "q47_bucketed_join" -> Q(
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        SessionMemo.value(s, "layout-bucketed", dir)({
            graft.io.Bucketing.writeBucketed(
              t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
              s"graft_b_orders_$tag", "o_orderkey", buckets = 16)
            graft.io.Bucketing.writeBucketed(
              t(s, dir, "lineitem").select("l_orderkey", "l_quantity",
                "l_extendedprice"),
              s"graft_b_lineitem_$tag", "l_orderkey", buckets = 16)
            tag
          })
        graft.io.Bucketing.table(s, s"graft_b_lineitem_$tag")
          .hint("merge")
          .join(graft.io.Bucketing.table(s, s"graft_b_orders_$tag").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sumCents(col("l_extendedprice")).as("sum_price"))
          .orderBy(desc("sum_qty"), asc("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT o_orderkey, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0
             |    AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin),
      "co-located fact⋈fact: bucketed layout paid once, join + keyed agg with zero Exchange"),

    // ── Partition-pruned scan over a date-partitioned layout (q49) ────
    // The third leg of the physical-layout family (q47 buckets keys,
    // q48 z-orders files, q49 PARTITIONS directories): events land in a
    // catalog table partitioned by event_date — the layout every
    // warehouse gives an append-only fact — and a one-day query prunes
    // at the METADATA level: the date predicate resolves against the
    // catalog's partition listing (PartitionFilters in the scan, zero
    // data-filter residue), so a 100 TB table reads 1/30th of its files
    // before a single row decodes. At scale the identical plan is the
    // daily-report query; the partition column is derived once at
    // write (to_date(ts) under the UTC session), never re-derived at
    // read — deriving it in the query (CAST(ts AS DATE) = …) would
    // filter post-scan and read every partition. PlanAuditSpec pins
    // the PartitionFilters + the absence of any pushed/post data
    // filter on the date.
    "q49_partition_prune" -> Q(
      (s, dir) => {
        s.table(partitionedEvents(s, dir))
          .filter(col("event_date") === lit("2024-01-15").cast("date"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            sumCents(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
             |GROUP BY 1 ORDER BY event_type""".stripMargin),
      "date-partitioned layout + metadata-level partition pruning: one-day scan reads 1/30th of the files, keyed agg after"),

    // ── DSv2 paged connector read (q50) ──────────────────────────────
    // The S1 pagination surface at its production shape: the staged
    // page directory (one `page=<n>/` subdir ≙ one HTTP GET of a paged
    // API) is read through the `graft-pages` DataSource V2 connector
    // (sources/PageSource.scala) — each page is an InputPartition, so
    // EXECUTORS fetch pages in parallel and the driver only plans page
    // ids; Paginated.fetchAll (the reference-faithful driver drain)
    // remains the small-corpus/live-API twin. Column pruning reaches
    // the connector (SupportsPushDownRequiredColumns): this agg needs
    // text/source/n_chars, so doc_id and lang are never decoded —
    // PageSourceSpec pins the executed scan's readSchema to exactly
    // those three fields and the partition count to the page count.
    // Staging is memoized per (session, corpus) like q47/q49's
    // layouts; the oracle reads the SAME documents the staging framed,
    // so the hash match proves the frame→decode round trip is
    // byte-faithful (sum_text_len covers the text payload itself).
    "q50_pages_source" -> Q(
      (s, dir) => {
        val staged = SessionMemo.value(s, "layout-pages", dir)(
          graft.sources.PageSource.stageDocuments(s, dir))
        s.read.format("graft-pages")
          .option("path", staged)
          .option("schema", graft.sources.PageSource.DDL)
          .load()
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(length(col("text")).cast("long")).as("sum_text_len"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
             |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),
      "paged REST twin read through the graft-pages DSv2 connector: page = input partition, pruned decode, keyed agg"),

    // ── Dynamic partition pruning over the q49 layout (q51) ──────────
    // The runtime leg of the pruning family, and the classic 100 TB
    // star-join lever: q49 proves STATIC pruning (a literal date
    // resolves against the partition listing at plan time); q51 joins
    // the same date-partitioned fact against a calendar DIMENSION
    // whose filter (`day_kind = 'focus'`) only yields its matching
    // dates at RUNTIME — no literal date appears anywhere in the
    // query, so static pruning is impossible by construction. Spark's
    // PartitionPruning rule plants a DynamicPruningSubquery on the
    // fact scan's partition column: the dim-side broadcast that the
    // join needs anyway is REUSED as the pruning subquery (free — the
    // reuseBroadcastOnly default), its result becomes an IN filter
    // against the partition LISTING, and only the matching day
    // directories are ever opened. At 100 TB this is the
    // daily-fact ⋈ filtered-dim report shape: without DPP the fact
    // side reads every partition and throws 90% of it away post-join;
    // with DPP the scan opens 3 of 30 day directories before a single
    // non-matching row decodes. PlanAuditSpec pins
    // `dynamicpruningexpression` inside the fact scan's
    // PartitionFilters AND measures the executed files/partitions
    // delta against a DPP-disabled run of the identical query.
    // The dim derives once at staging from the events table itself
    // (distinct event_date + a day_kind attribute written INTO the
    // table — the predicate's matching dates live in table data, not
    // in any expression Catalyst could constant-fold).
    "q51_dynamic_partition_prune" -> Q(
      (s, dir) => {
        val fact = s.table(partitionedEvents(s, dir))
        val dim = s.table(calendarDim(s, dir))
          .filter(col("day_kind") === lit("focus"))
        fact.join(broadcast(dim), Seq("event_date"))
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            sumCents(col("value")).as("sum_value"))
          .orderBy("event_date", "event_type")
      },
      Some("""WITH dim AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS event_date,
             |    CASE WHEN day(CAST(ts AS DATE)) % 10 = 5
             |         THEN 'focus' ELSE 'regular' END AS day_kind
             |  FROM events)
             |SELECT e.event_date, e.event_type,
             |  count(*) AS n_events,
             |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
             |  sum(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
             |FROM (SELECT CAST(ts AS DATE) AS event_date, event_type, user_id,
             |        value FROM events) e
             |JOIN dim ON e.event_date = dim.event_date
             |WHERE dim.day_kind = 'focus'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "dynamic partition pruning: runtime dim filter becomes a DynamicPruningSubquery on the fact's partition listing — 3/30 day directories opened, broadcast reused as the pruning subquery"),

    // ── DSv2 limit pushdown into the paged reader (q52) ──────────────
    // Completes the graft-pages pushdown triad (columns q50, page-grain
    // filters q50, now LIMIT): the pushed cap reaches PageReader, so a
    // `LIMIT 42` against 100-row pages decodes 42 rows of the one page
    // Spark's incremental limit execution launches — at a 10^6-page
    // endpoint that is O(1) GETs and O(k) decoded rows, vs draining
    // pages whole and discarding. PARTIAL pushdown by contract (pages
    // are independent partitions; Spark keeps the global limit on
    // top), which is why the count-of-limited-rows is the one
    // deterministic observable: WHICH rows survive an unordered LIMIT
    // is planner-dependent in Spark and DuckDB alike, but the COUNT is
    // exact on both. PageSourceSpec pins the reader-level truncation
    // (executed scan rows == k, not page size) and the description
    // marker; the registered query pins end-to-end semantics.
    "q52_pages_limit_pushdown" -> Q(
      (s, dir) => {
        val staged = SessionMemo.value(s, "layout-pages", dir)(
          graft.sources.PageSource.stageDocuments(s, dir))
        s.read.format("graft-pages")
          .option("path", staged)
          .option("schema", graft.sources.PageSource.DDL)
          .load()
          .select("doc_id")
          .limit(42)
          .agg(count(lit(1)).as("n_rows"))
      },
      Some("""SELECT count(*) AS n_rows
             |FROM (SELECT doc_id FROM documents LIMIT 42) t""".stripMargin),
      "pushed LIMIT reaches the paged reader: one page launched, 42 rows decoded, global limit re-applied by Spark"),

    // ── DSv2 count(*) aggregate pushdown (q53) ───────────────────────
    // The metadata-count lever parquet answers from row-group stats,
    // expressed for the paged layout: a bare COUNT(*) swaps the row
    // scan for PageCountScan — each page partition emits ONE partial
    // count, counted at the LINE level (record ≙ line by the framing
    // contract) with zero field decode, zero UTF8String allocation —
    // and Spark's final aggregate merges the partials. At a 10^6-page
    // corpus the count costs a byte-stream pass with no per-field
    // work, and the plan carries no row-shaped exchange at all.
    // Partial pushdown (multi-partition source); refused the moment a
    // filter or grouping appears, because page-grain filter pruning is
    // LOSSY (residual re-check) and a count over a lossy scan would
    // count rows the residual was meant to drop — PageSourceSpec pins
    // both the fast path and the refusal.
    "q53_pages_count_pushdown" -> Q(
      (s, dir) => {
        val staged = SessionMemo.value(s, "layout-pages", dir)(
          graft.sources.PageSource.stageDocuments(s, dir))
        s.read.format("graft-pages")
          .option("path", staged)
          .option("schema", graft.sources.PageSource.DDL)
          .load()
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("SELECT count(*) AS n_docs FROM documents"),
      "count(*) pushed to the connector: line-count partials per page, zero field decode, final merge in Spark"),

    // ── Storage-partitioned join through the DSv2 layer (q54) ────────
    // The SPJ successor of q47: there the zero-Exchange fact⋈fact join
    // rode Spark's own catalog bucketing (only tables Spark itself
    // wrote can play); here the CONNECTOR reports its storage
    // partitioning — `graft-keyed` scans return KeyGroupedPartitioning
    // over identity(kb) with one HasPartitionKey partition per stored
    // `k=<v>/` directory — and Catalyst aligns the two sides by
    // partition VALUE, deleting both join shuffles AND the downstream
    // keyed aggregate's. This is the Iceberg/Delta production shape: a
    // doc-grain enrichment join (documents ⋈ per-doc token stats, both
    // laid out by the materialized bucket surrogate kb = doc_id % 16)
    // where neither side fits an executor at 100 TB, broadcast is
    // off the table, and the only shuffle was paid once at
    // layout-write time. Join keys (kb, doc_id) are a SUPERSET of the
    // partition key, the bucketed-join norm — Spark accepts subset
    // co-partitioning only under
    // requireAllClusterKeysForCoPartition=false (it relaxes a skew
    // heuristic, never correctness: equal kb still implies the same
    // partition on both sides). v2.bucketing.enabled turns the
    // connector's report on. Both confs are benign for every other
    // registered plan (plan-audited globally) and are set at SESSION
    // CONSTRUCTION by Bench/Verify (r13 ADVICE: the sets below are
    // session-sticky, so without the builder-level pin the first q54
    // run changed later plans' conf state by Map ordering; restoring
    // them inside this function is impossible — physical planning,
    // where Spark reads them, happens at action time, after this
    // function returns). The sets below stay for FOREIGN sessions
    // (a user session that never pinned them): idempotent under the
    // harnesses, required for q54's zero-Exchange contract elsewhere.
    // PlanAuditSpec pins zero Exchange across join AND aggregate;
    // KeyedSourceSpec pins the report, the alignment, and the
    // conf-off degradation. The orderBy+limit rides
    // TakeOrderedAndProject like q47 (kb is exactly 16 buckets).
    "q54_storage_partitioned_join" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        val base = keyedLayouts(s, dir)
        val docs = s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
        val tok = s.read.format("graft-keyed")
          .option("path", s"$base/tok")
          .option("schema", "kb BIGINT, doc_id BIGINT, n_tokens BIGINT")
          .option("key", "kb").load()
        docs.hint("merge").join(tok.hint("merge"), Seq("kb", "doc_id"))
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum("n_tokens").as("sum_tokens"))
          .orderBy("kb")
          .limit(16)
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
             |    AS BIGINT) AS sum_tokens
             |FROM documents GROUP BY 1 ORDER BY kb LIMIT 16""".stripMargin),
      "storage-partitioned join: DSv2 scans report KeyGroupedPartitioning, doc-grain enrichment join + keyed agg with zero Exchange"),

    // ── Keyed point lookup through pushed key filters (q55) ──────────
    // The r13 gap on q54's connector: a key predicate read all 16
    // `k=<v>/` directories and filtered post-scan — a 16× overscan
    // that at 100 TB turns a point read into a full-table scan. Now
    // the equality pushes down (KeyedScanBuilder.pushFilters) and the
    // scan PLANS one partition: the directory listing is the
    // predicate index, exact at directory grain (the layout's
    // partitionBy(key) placement — the same contract the SPJ report
    // already trusts), so the filter is fully consumed and the plan
    // carries no residual Filter. Column pruning composes: this scan
    // reads 1 of 16 directories AND only the 3 referenced fields.
    // KeyedSourceSpec pins partition counts (1 of 16; IN → 2;
    // contradiction → 0) and the refusal leg (non-key predicates stay
    // post-scan, all 16 planned).
    "q55_keyed_point_lookup" -> Q(
      (s, dir) => {
        val base = keyedLayouts(s, dir)
        s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
          .filter(col("kb") === 3)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 16 = 3
             |GROUP BY source ORDER BY source""".stripMargin),
      "keyed point lookup: pushed key equality prunes k=<v>/ directories at plan time — 1 of 16 partitions, no residual Filter"),

    // ── Statistics-driven join reordering, CBO (q56) ──────────────────
    // The last classical 100 TB planning lever with zero coverage
    // (r13 verdict #2): when hand-hints are absent, a warehouse leans
    // on ANALYZE TABLE statistics + spark.sql.cbo.enabled to pick the
    // join ORDER. The query is written in the deliberately bad
    // syntactic order — (orders ⋈ customer) ⋈ σ(nation) — whose
    // stats-blind plan materializes the full 10-orders-per-customer
    // intermediate before the 25×-selective nation filter touches it;
    // with row+column statistics on all three catalog tables and the
    // CBO flags on, CostBasedJoinReorder flips to
    // (σ(nation) ⋈ customer) ⋈ orders, shrinking the first join's
    // output ~25×. The flags live on a CHILD SESSION (newSession:
    // own SQLConf, shared SparkContext + catalog + cache), so CBO
    // estimation never leaks into any other registered plan — the
    // q54 session-stickiness lesson applied preemptively.
    // CboSpec pins the two-plan audit (join order WITH stats+cbo vs
    // WITHOUT differs, filtered-dim-first under CBO) and BASELINE.md
    // records the honest wall-time verdict at local scale.
    "q56_cbo_join_reorder" -> Q(
      (s, dir) => {
        val c = cboSession(s)
        val tag = cboTables(c, dir)
        val o = c.table(s"graft_cbo_orders_$tag")
        val cu = c.table(s"graft_cbo_customer_$tag")
        val n = c.table(s"graft_cbo_nation_$tag")
        o.join(cu, o("o_custkey") === cu("c_custkey"))
          .join(n, cu("c_nationkey") === n("n_nationkey"))
          .filter(n("n_name") === "NATION_7")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sumCents(col("o_totalprice")).as("sum_price"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_name = 'NATION_7'
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "stats-driven planning: ANALYZE'd catalog tables + CBO join reorder flip a bad syntactic join order to filtered-dim-first"),

    // ── Runtime key pruning on the DSv2 connector (q57) ───────────────
    // Completes the connector pruning triad: q55 prunes on a LITERAL
    // key (plan time), q54 aligns co-keyed layouts (no pruning), q57
    // prunes on keys that exist only in DIMENSION DATA — dim.kind =
    // 'focus' names no kb anywhere in the query text, so plan-time
    // pushdown has nothing to push. Spark executes the broadcast dim
    // side first, turns the surviving join keys into an IN filter,
    // and hands it to the scan at EXECUTION time
    // (SupportsRuntimeFiltering.filter); the connector intersects it
    // into the same directory-grain prune the static path uses and
    // re-plans 3 of 16 partitions. This is q51's DPP lever
    // generalized from Spark's own file source to a DSv2 source —
    // what Iceberg does for the fact⋈dim class at 100 TB, where the
    // 13 pruned directories are the difference between a dim-driven
    // point read and a full fact scan. KeyedSourceSpec pins the
    // execution-time partition count, the plan's dynamicpruning
    // subquery on the scan, and the ignored-filter safety leg.
    "q57_keyed_runtime_prune" -> Q(
      (s, dir) => {
        val base = keyedLayouts(s, dir)
        val docs = s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
        val dim = s.read.schema("kb BIGINT, kind STRING").parquet(s"$base/dim")
        docs.join(broadcast(dim), "kb")
          .filter(col("kind") === "focus")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("source")
      },
      Some("""WITH dim AS (
             |  SELECT DISTINCT doc_id % 16 AS kb,
             |    CASE WHEN (doc_id % 16) % 5 = 2 THEN 'focus' ELSE 'regular' END AS kind
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents JOIN dim ON doc_id % 16 = dim.kb
             |WHERE dim.kind = 'focus'
             |GROUP BY source ORDER BY source""".stripMargin),
      "runtime key pruning: dim-data-only predicate becomes an execution-time IN filter on the keyed scan — 3 of 16 directories read, DPP at the connector layer"),

    // ── Metadata-answered aggregates on the keyed layout (q58) ────────
    // The Iceberg manifest-stats shape: stageKeyed finishes every
    // layout write by deriving per-key count/min/max/sum FROM THE
    // COMMITTED LAYOUT into a `_graft_keyed_stats` sidecar, and
    // COUNT/MIN/MAX/SUM — bare or grouped by the key — then answer
    // from the sidecar with ZERO data files opened
    // (SupportsPushDownAggregates, partial: one row per surviving
    // key, Spark's final aggregate merges ≤16 rows). The pushed key
    // filter COMPOSES: directory grain is exact, so kb IN (2,3,7)
    // prunes the sidecar to 3 entries — the page connector's count
    // fast path must refuse under ANY filter (lossy page grain), the
    // keyed one keeps it, which is the whole point of an exact
    // layout grain. At 100 TB this query is a metadata lookup; the
    // refused twin is a full-corpus scan. Refusal legs (residual
    // filters, non-key grouping, DISTINCT/AVG, missing or mismatched
    // sidecar) and data-scan parity on every leg are pinned in
    // KeyedStatsSpec.
    "q58_keyed_stats_agg" -> Q(
      (s, dir) => {
        val base = keyedLayouts(s, dir)
        s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
          .filter(col("kb").isin(2L, 3L, 7L))
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"),
            min("n_chars").as("min_chars"),
            max("n_chars").as("max_chars"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n_docs,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM documents WHERE doc_id % 16 IN (2, 3, 7)
             |GROUP BY 1 ORDER BY kb""".stripMargin),
      "metadata-answered aggregate: grouped count/min/max/sum served from the keyed layout's stats sidecar — zero data files opened, pushed key filter prunes sidecar entries"),

    // ── Connector-reported statistics drive the build side (q59) ──────
    // The planner-side payoff of the connector's metadata: a DSv2 read
    // without SupportsReportStatistics costs defaultSizeInBytes
    // (effectively infinite), so Catalyst can never auto-broadcast a
    // keyed table however small its pruned read is. KeyedScan now
    // reports PRUNING-AWARE size (file bytes of surviving directories
    // — the pushed kb = 3 shrinks the estimate 16×) and sidecar row
    // counts, so this hint-free join picks its broadcast build side
    // from connector statistics alone. At 100 TB the full layout is
    // far above any broadcast threshold and the POINT-PRUNED read is
    // far below it — the estimate must shrink with the prune or the
    // lever never fires (Iceberg's post-pruning stats, same shape).
    // A plan-time broadcast also beats AQE's runtime conversion: AQE
    // can only rewrite after the first stage's map-side shuffle files
    // are written; the static estimate never stages them.
    // ReportStatisticsSpec pins the exact estimates (full vs pruned),
    // the build-side flip against a reportStats=false twin under a
    // controlled threshold, and value parity both ways. At the bench
    // SF both sides sit under the default 10 MB threshold, so the
    // registered query broadcasts either way — the SIZE of the
    // broadcast build (130 KB pruned vs the full corpus) is what the
    // stats decide here; the spec's controlled threshold shows the
    // join-shape flip itself.
    "q59_stats_driven_broadcast" -> Q(
      (s, dir) => {
        val base = keyedLayouts(s, dir)
        val focus = s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
          .filter(col("kb") === 3L)
          .select("doc_id", "n_chars")
        // NO broadcast hint anywhere: the connector's reported
        // statistics are what make `focus` the build side
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .join(focus, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 16 = 3
             |GROUP BY lang ORDER BY lang""".stripMargin),
      "connector-reported statistics: pruning-aware size + sidecar row counts let a hint-free join broadcast the point-pruned keyed read"),

    // ── Transactional connector write → read-back (q60) ───────────────
    // The r14 verdict-#3 surface: stageKeyed is now the connector's
    // own DSv2 write (SupportsWrite, write-audit-publish — data files,
    // stats sidecar, and order marker land in an uncommitted
    // generation, then one atomic pointer swap publishes all of them;
    // a crash before the swap leaves the previous generation live,
    // KeyedWriteSpec). This query drives the full write→read loop
    // through the connector: stage a lang-keyed layout (STRING key,
    // doc_id-sorted files), read it back, and aggregate under a
    // RESIDUAL (non-key) filter — deliberately refusing the sidecar
    // fast path so the oracle checks the COMMITTED BYTES, not the
    // writer's own metadata. The write pays its shuffle once
    // (clustered-by-key + key-first sort is the connector's declared
    // write distribution — the same layout geometry every co-keyed
    // join then amortizes); at 100 TB this is the ingest commit:
    // either a generation is fully visible or not at all, exactly the
    // reference's load-then-archive contract.
    "q60_keyed_write_roundtrip" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-keyedw", dir)({
          val out = graft.io.TempDirs.scratch("graft_keyedw_") + "/bylang"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("lang", "doc_id", "n_chars"),
            out, "lang", sortBy = Seq("doc_id"))
          out
        })
        s.read.format("graft-keyed")
          .option("path", path)
          .option("schema", "lang STRING, doc_id BIGINT, n_chars BIGINT")
          .option("key", "lang").load()
          .filter(col("n_chars") >= 200L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("first_doc"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS first_doc
             |FROM documents WHERE n_chars >= 200
             |GROUP BY lang ORDER BY lang""".stripMargin),
      "transactional connector write: stage through the DSv2 SupportsWrite commit (write-audit-publish), read the committed bytes back under a residual filter"),

    // ── CBO join reorder on PURE-CONNECTOR inputs (q61) ───────────────
    // q56 proves the reorder lever on ANALYZE'd catalog tables; at
    // 100 TB the tables are CONNECTOR reads and there is no ANALYZE —
    // the statistics must come from the connector itself (r14 verdict
    // #4). The v2 stats sidecar now carries total row count and
    // per-column KMV distinct estimates, and KeyedScan.estimateStatistics
    // surfaces them as DSv2 column statistics, so
    // CostBasedJoinReorder's cardinality estimation works on keyed
    // reads with ZERO catalog involvement. Same deliberately bad
    // syntactic order as q56 — (docs ⋈ tok) ⋈ σ(dim) materializes the
    // full fact⋈fact intermediate before the selective dimension
    // filter touches it; with the connector stats the optimizer joins
    // σ(kind='focus')(dim) ⋈ docs first (0.25× the intermediate) and
    // tok last. CboSpec pins the leaf-order flip on pure-connector
    // leaves; the flags ride the same isolated child session as q56.
    "q61_cbo_connector_reorder" -> Q(
      (s, dir) => {
        val c = cboSession(s)
        val root = cboKeyedLayouts(c, dir)
        def rd(sub: String, schema: String, key: String) =
          c.read.format("graft-keyed").option("path", s"$root/$sub")
            .option("schema", schema).option("key", key).load()
        val docs = rd("docs", "source STRING, doc_id BIGINT, n_chars BIGINT", "source")
        val tok = rd("tok", "kb BIGINT, doc_id BIGINT, n_tokens BIGINT", "kb")
          .select("doc_id", "n_tokens")
        val dim = rd("dim", "source STRING, kind STRING", "source")
        docs.join(tok, "doc_id")
          .join(dim, "source")
          .filter(col("kind") === "focus")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("sum_tokens"),
            sum("n_chars").as("sum_chars"))
          .orderBy("source")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
             |  FROM documents),
             |dim AS (SELECT DISTINCT source,
             |  CASE WHEN CAST(substr(source, 4, 10) AS INT) % 7 = 2
             |       THEN 'focus' ELSE 'regular' END AS kind
             |  FROM documents)
             |SELECT d.source, count(*) AS n_docs,
             |  CAST(sum(t.n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
             |FROM documents d JOIN tok t USING (doc_id)
             |JOIN dim ON d.source = dim.source
             |WHERE dim.kind = 'focus'
             |GROUP BY d.source ORDER BY d.source""".stripMargin),
      "CBO join reorder fed by connector statistics alone: sidecar row counts + KMV column NDVs flip a bad syntactic order on pure DSv2 keyed reads — no ANALYZE, no catalog"),

    // ── Pushed TopN on the keyed layout (q62) ─────────────────────────
    // The last read-side lever the write-time sort buys
    // (SupportsPushDownTopN, r14 verdict #6): `ORDER BY kb, doc_id
    // LIMIT 20` used to plan TakeOrderedAndProject over the FULL scan
    // — every directory decoded, heaped, merged — even though each
    // key's file is already stored in exactly that order. Now the
    // Sort is deleted from the plan entirely: partitions are planned
    // in key order, each carries the remaining row budget after the
    // sidecar-counted rows of every earlier directory (directories
    // past the budget are not planned, let alone read), and the
    // readers stop decoding mid-payload at their cap — the union of
    // their outputs IS the top-20. At 100 TB a point-slate query
    // ("first k rows of the ledger") becomes one partial directory
    // read instead of a corpus-wide heap. Refusals (DESC, non-prefix
    // orders, residual filters, unordered or sidecar-less layouts)
    // keep Spark's own Sort+Limit — KeyedTopNSpec pins every leg and
    // the exact plan shape.
    "q62_keyed_topn_pushdown" -> Q(
      (s, dir) => {
        val base = keyedLayouts(s, dir)
        s.read.format("graft-keyed")
          .option("path", s"$base/docs")
          .option("schema", "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT")
          .option("key", "kb").load()
          .orderBy("kb", "doc_id")
          .limit(20)
          .select("kb", "doc_id", "source", "n_chars")
      },
      Some("""SELECT doc_id % 16 AS kb, doc_id, source, n_chars
             |FROM documents
             |ORDER BY kb, doc_id LIMIT 20""".stripMargin),
      "pushed TopN: ORDER BY stored-order prefix LIMIT k serves from the sorted per-key files — Sort deleted, budgeted partial read, no TakeOrderedAndProject"),

    // ── Snapshot time travel on the keyed connector (q63) ─────────────
    // The WAP commit pointer grown into a SNAPSHOT LOG (the Iceberg
    // snapshot model): `retain=2` keeps the superseded generation
    // readable, and `asOf=<seq>` pins it — here the layout is staged
    // twice (raw corpus, then a quality-filtered overwrite) and ONE
    // query reads BOTH snapshots: the audit shape every corpus
    // curation pipeline needs ("what did the filter remove, per
    // language?") and the reproducibility shape training runs need (a
    // run pins the exact snapshot it consumed — at 100 TB you cannot
    // diff corpora by keeping two copies; you keep one layout and two
    // metadata pointers). Both reads answer from their own
    // generation's stats sidecar (zero data files); an expired seq
    // fails loudly at plan time (KeyedSnapshotSpec).
    "q63_time_travel" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-ttravel", dir)({
          val out = graft.io.TempDirs.scratch("graft_tt_") + "/bylang"
          val docs = t(s, dir, "documents").selectExpr("lang", "doc_id", "n_chars")
          graft.sources.KeyedSource.stageKeyed(s, docs, out, "lang",
            sortBy = Seq("doc_id"), retain = 2)
          graft.sources.KeyedSource.stageKeyed(s, docs.where("n_chars >= 300"),
            out, "lang", sortBy = Seq("doc_id"), retain = 2)
          out
        })
        def rd(asOf: Option[Long]) = {
          val r = s.read.format("graft-keyed").option("path", path)
            .option("schema", "lang STRING, doc_id BIGINT, n_chars BIGINT")
            .option("key", "lang")
          asOf.fold(r)(v => r.option("asOf", v.toString)).load()
        }
        def snap(df: DataFrame, tag: String) =
          df.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
            .withColumn("snapshot", lit(tag))
            .select("snapshot", "lang", "n_docs", "sum_chars")
        snap(rd(Some(1L)), "v1").unionAll(snap(rd(None), "head"))
          .orderBy("snapshot", "lang")
      },
      Some("""SELECT 'head' AS snapshot, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE n_chars >= 300 GROUP BY lang
             |UNION ALL
             |SELECT 'v1' AS snapshot, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang
             |ORDER BY snapshot, lang""".stripMargin),
      "snapshot time travel: one layout, two committed generations — asOf pins the retained pre-filter snapshot and the query audits both, each from its own metadata sidecar"),

    // ── Metadata-grain DELETE through the catalog (q64) ───────────────
    // `DELETE FROM cat.t WHERE kb IN (…)` — the GDPR/retraction shape
    // at 100 TB: a new snapshot tombstones the doomed key directories
    // in ONE atomic metadata swap, zero data bytes rewritten
    // (KeyedSnapshotSpec pins file-list identity), and every read
    // surface prunes them like pushed key filters. The post-purge
    // audit below is itself a pure metadata read (grouped
    // count/sum/max from the stats sidecar, tombstoned entries
    // pruned, zero data files opened). Runs through GraftCatalog —
    // Spark routes DSv2 DELETE only through catalog tables — so the
    // whole lifecycle is SQL: CREATE TABLE … USING graft-keyed,
    // DELETE FROM, SELECT.
    "q64_metadata_delete" -> Q(
      (s, dir) => {
        val tbl = SessionMemo.value(s, "layout-keydel", dir)({
          val out = graft.io.TempDirs.scratch("graft_del_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 2)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.corpus_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='2')")
          s.sql(s"DELETE FROM $name WHERE kb IN (3, 5, 11)")
          name
        })
        s.sql(s"SELECT kb, count(*) AS n_docs, sum(n_chars) AS sum_chars, " +
          s"max(doc_id) AS last_doc FROM $tbl GROUP BY kb ORDER BY kb")
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM documents WHERE doc_id % 16 NOT IN (3, 5, 11)
             |GROUP BY kb ORDER BY kb""".stripMargin),
      "metadata-grain DELETE via catalog SQL: tombstone snapshot in one atomic swap, zero data bytes moved; the post-purge audit answers from pruned sidecar metadata"),

    // ── Snapshots metadata table (q65 — Iceberg's t.snapshots shape) ──
    // Retention and purge state as a QUERYABLE TABLE: one row per
    // retained snapshot with the keys/rows a reader of that snapshot
    // sees (its generation's sidecar minus its tombstones) and the
    // tombstone count. The layout here is staged retain=2 then purged
    // of three buckets through the Table API's deleteWhere — the same
    // tombstone commit DELETE FROM makes — so the table shows the
    // before/after pair every audited purge needs: seq 1 full, seq 2
    // minus three buckets with tombstoned_keys=3. Driver-computed from
    // retain × |key domain| sidecar lines, zero data files opened — at
    // 100 TB the audit costs what the metadata costs, like the
    // snapshot operations themselves.
    "q65_snapshot_audit" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-snapaudit", dir)({
          val out = graft.io.TempDirs.scratch("graft_snapaud_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 2)
          new graft.sources.KeyedTable(
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, n_chars BIGINT"), out, "kb")
            .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
              org.apache.spark.sql.sources.In("kb", Array(3L, 5L, 11L))))
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb")
          .option("metadata", "snapshots").load()
          .orderBy("seq")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS seq,
             |  CAST(count(DISTINCT doc_id % 16) AS BIGINT) AS live_keys,
             |  CAST(0 AS BIGINT) AS tombstoned_keys,
             |  count(*) AS live_rows,
             |  CAST(NULL AS VARCHAR) AS branch
             |FROM documents
             |UNION ALL
             |SELECT CAST(2 AS BIGINT),
             |  CAST(count(DISTINCT CASE WHEN doc_id % 16 NOT IN (3, 5, 11)
             |    THEN doc_id % 16 END) AS BIGINT),
             |  CAST(3 AS BIGINT),
             |  count(CASE WHEN doc_id % 16 NOT IN (3, 5, 11) THEN 1 END),
             |  CAST(NULL AS VARCHAR)
             |FROM documents
             |ORDER BY seq""".stripMargin),
      "snapshots metadata table: retention and purge state queryable from SQL — per retained snapshot, the visible keys/rows and tombstone count, zero data files opened"),

    // ── Row-level MERGE upsert (q66) ──────────────────────────────────
    // The r15 verdict's #2: the reference's incremental-load semantics
    // ("only new/updated tracks", README.md:51) at the STORAGE layer —
    // SupportsRowLevelOperations, group-based copy-on-write. The MERGE
    // updates every doc_id % 5 = 0 row and inserts a +1M-shifted twin
    // of every doc_id % 50 = 0 row; Spark's rewrite scans ONLY the key
    // directories the runtime group filter proves affected, rewrites
    // them into a new generation, and the commit references every
    // unaffected directory from the base generation (files carried by
    // REFERENCE — KeyedRowLevelSpec pins byte-identity). At 100 TB an
    // upsert touching k of 16 buckets costs k directory rewrites and
    // one CAS metadata swap, not a corpus rewrite — and a concurrent
    // commit fails the DML loudly instead of being silently rebased.
    // The post-merge audit below answers from the MERGED sidecar
    // (edited keys from their generation, the rest from the base) —
    // zero data files opened.
    "q66_merge_upsert" -> Q(
      (s, dir) => {
        val tbl = SessionMemo.value(s, "layout-merge", dir)({
          val out = graft.io.TempDirs.scratch("graft_merge_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 2)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.upsert_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='2')")
          val src = t(s, dir, "documents")
            .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars + 1000 AS n_chars")
            .where("doc_id % 5 = 0")
            .unionAll(t(s, dir, "documents")
              .selectExpr("(doc_id + 1000000) % 16 AS kb",
                "doc_id + 1000000 AS doc_id", "CAST(77 AS BIGINT) AS n_chars")
              .where("doc_id % 50 = 0"))
          src.createOrReplaceTempView(s"graft_merge_src_$tag")
          s.sql(
            s"""MERGE INTO $name AS t USING graft_merge_src_$tag AS s
               |ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
               |WHEN NOT MATCHED THEN INSERT (kb, doc_id, n_chars)
               |  VALUES (s.kb, s.doc_id, s.n_chars)""".stripMargin)
          name
        })
        s.sql(s"SELECT kb, count(*) AS n_docs, sum(n_chars) AS sum_chars, " +
          s"max(doc_id) AS last_doc FROM $tbl GROUP BY kb ORDER BY kb")
      },
      Some("""WITH merged AS (
             |  SELECT doc_id % 16 AS kb, doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 1000000) % 16, doc_id + 1000000, 77
             |  FROM documents WHERE doc_id % 50 = 0)
             |SELECT kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM merged GROUP BY kb ORDER BY kb""".stripMargin),
      "row-level MERGE upsert via copy-on-write: affected key directories rewritten into a new generation, unaffected ones carried by reference; post-merge audit from the merged sidecar"),

    // ── Incremental changes between snapshots (q67 — CDC read) ────────
    // The `changes` metadata table: net row delta between two RETAINED
    // snapshots, priced by METADATA — snapshots reference immutable
    // generation files per key, so unchanged keys (identical
    // references) are skipped without IO, an UPDATE that rewrote 2 of
    // 16 buckets plans 2 partitions, a tombstone DELETE reads only the
    // dropped key, and unchanged rows of a rewritten key CANCEL inside
    // the key's own partition (zero Exchange anywhere). At 100 TB this
    // is how a downstream consumer (index refresh, training-shard
    // rebuild, replica sync) prices its refresh at O(what changed)
    // instead of O(corpus) — and the same planner streams the commit
    // log as micro-batches (KeyedChangesStream). Lifecycle: stage →
    // UPDATE (doc_id % 40 = 7 → buckets 7/15 rewritten) → DELETE
    // bucket 3 (tombstone); the read diffs snapshot 1 against the
    // head and aggregates per (change_type, bucket).
    "q67_incremental_changes" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-changes", dir)({
          val out = graft.io.TempDirs.scratch("graft_chg_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.chg_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4')")
          s.sql(s"UPDATE $name SET n_chars = n_chars + 1000 WHERE doc_id % 40 = 7")
          s.sql(s"DELETE FROM $name WHERE kb = 3")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb")
          .option("metadata", "changes").option("changesFrom", "1")
          .load()
          .groupBy(col("_change_type").as("change_type"), col("kb"))
          .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
          .orderBy("change_type", "kb")
      },
      Some("""WITH d AS (SELECT doc_id % 16 AS kb, doc_id, n_chars FROM documents),
             |chg AS (
             |  SELECT 'delete' AS change_type, kb, n_chars FROM d WHERE doc_id % 40 = 7
             |  UNION ALL
             |  SELECT 'insert', kb, n_chars + 1000 FROM d WHERE doc_id % 40 = 7
             |  UNION ALL
             |  SELECT 'delete', kb, n_chars FROM d WHERE kb = 3)
             |SELECT change_type, kb, count(*) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM chg GROUP BY change_type, kb ORDER BY change_type, kb""".stripMargin),
      "incremental CDC read between snapshots: per-key diff by file reference — unchanged keys skipped without IO, unchanged rows of rewritten keys cancel in-partition, zero Exchange"),

    // ── Append ingest + compaction (q68 — OPTIMIZE lifecycle) ─────────
    // The maintenance cycle a continuously-ingested 100 TB layout
    // lives by: INSERT INTO appends land as per-key EDIT generations
    // (live files never rewritten in place — one CAS metadata swap per
    // batch, O(delta) bytes), fragmenting keys across files;
    // KeyedCompact.compact rewrites ONLY the fragmented keys into one
    // sorted file each (base bytes carried by reference, stored-order
    // claim resurrected, CDC nets the interval to zero —
    // KeyedCompactionSpec). The post-compaction audit below answers
    // from the compacted generation's sidecar: grouped
    // count/sum/max with zero data files opened, same as q64/q66.
    "q68_append_compact" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-compact", dir)({
          val out = graft.io.TempDirs.scratch("graft_opt_") + "/bykb"
          val docs = t(s, dir, "documents")
          graft.sources.KeyedSource.stageKeyed(s,
            docs.selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 2)
          // two append batches (the incremental-ingest shape): +1M and
          // +2M shifted twins of every 50th document
          Seq(1000000L, 2000000L).foreach { off =>
            docs.selectExpr(s"(doc_id + $off) % 16 AS kb",
                s"doc_id + $off AS doc_id", "CAST(88 AS BIGINT) AS n_chars")
              .where("doc_id % 50 = 0")
              .write.format("graft-keyed")
              .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
              .option("key", "kb").option("sortBy", "doc_id")
              .mode("append").save(out)
          }
          val compacted = graft.sources.KeyedCompact.compact(s, out,
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, n_chars BIGINT"), "kb")
          require(compacted > 0, "the append batches must have fragmented keys")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""WITH m AS (
             |  SELECT doc_id % 16 AS kb, doc_id, n_chars FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 1000000) % 16, doc_id + 1000000, 88
             |  FROM documents WHERE doc_id % 50 = 0
             |  UNION ALL
             |  SELECT (doc_id + 2000000) % 16, doc_id + 2000000, 88
             |  FROM documents WHERE doc_id % 50 = 0)
             |SELECT kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM m GROUP BY kb ORDER BY kb""".stripMargin),
      "append-ingest + compaction lifecycle: per-key edit appends (O(delta) commits), fragmented keys rewritten into one sorted file each, audit from the compacted sidecar"),

    // ── Merge-on-read DELETE via deletion vectors (q69) ───────────────
    // dmlMode='mor' (Iceberg v2 position deletes): a row-grain DELETE
    // commits per-key DELETION VECTORS — O(deleted rows) bytes, ZERO
    // data files rewritten (KeyedMorSpec pins byte-identity) — where
    // copy-on-write would rewrite every affected bucket for a 3%% row
    // kill. Readers skip the ordinals at decode; the sidecar's
    // metadata answers honestly REFUSE under vectors (the audit below
    // deliberately runs on the DV-applying data scan), CDC prices the
    // delete interval at exactly the deleted rows, and a compaction
    // folds the vectors back into clean files, restoring the metadata
    // answers. At 100 TB this is the retraction shape
    // between q64's key-grain tombstone (zero IO) and q66's
    // copy-on-write (full-directory rewrite): per-row precision at
    // per-row cost.
    "q69_mor_delete" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-mordel", dir)({
          val out = graft.io.TempDirs.scratch("graft_mor_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.mor_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4','dmlMode'='mor')")
          s.sql(s"DELETE FROM $name WHERE doc_id % 30 = 7")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("kb")
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 30 <> 7
             |GROUP BY kb ORDER BY kb""".stripMargin),
      "merge-on-read DELETE: deletion vectors (O(deleted rows), zero data rewritten), readers skip ordinals at decode, metadata answers refuse honestly until compaction folds the vectors in"),

    // ── Merge-on-read UPDATE (q70 — dv + append in one commit) ────────
    // The r17-#1 decomposition, shipped: an UPDATE under dmlMode='mor'
    // writes the OLD versions as deletion vectors and the NEW versions
    // as per-key APPEND files — both legs in ONE atomic snapshot, zero
    // pre-existing files rewritten (KeyedMorSpec pins byte-identity;
    // a key-moving update lands under its new key). At 100 TB an
    // upsert touching 0.1% of rows costs O(changed rows) instead of
    // q66's O(affected directories); the read-side tax (DV probe +
    // concat) holds until compaction folds both legs into clean files.
    "q70_mor_update" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-morupd", dir)({
          val out = graft.io.TempDirs.scratch("graft_morupd_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.morupd_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4','dmlMode'='mor')")
          s.sql(s"UPDATE $name SET n_chars = n_chars + 500 WHERE doc_id % 40 = 3")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN doc_id % 40 = 3 THEN n_chars + 500
             |    ELSE n_chars END) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS last_doc
             |FROM documents GROUP BY kb ORDER BY kb""".stripMargin),
      "merge-on-read UPDATE: old versions as deletion vectors + new versions as per-key appends, one atomic commit, zero pre-existing files rewritten"),

    // ── Merge-on-read MERGE upsert (q71 — the COW/MOR pair complete) ──
    // q66's upsert semantics under dmlMode='mor': matched rows become
    // deletion vectors + appended new versions, not-matched rows
    // append — ONE atomic commit, zero pre-existing files rewritten.
    // The same MERGE INTO statement now has both physical strategies,
    // chosen by table property: COW (q66) pays directory rewrites for
    // pristine reads; MOR (q71) pays O(changed rows) at write and a
    // DV-probe + concat tax at read until compaction folds it — the
    // Iceberg copy-on-write/merge-on-read dial, both ends
    // oracle-checked against the same class of DuckDB twin.
    "q71_mor_merge" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-mormerge", dir)({
          val out = graft.io.TempDirs.scratch("graft_mormrg_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.mormrg_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4','dmlMode'='mor')")
          val src = t(s, dir, "documents")
            .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars + 2000 AS n_chars")
            .where("doc_id % 7 = 0")
            .unionAll(t(s, dir, "documents")
              .selectExpr("(doc_id + 3000000) % 16 AS kb",
                "doc_id + 3000000 AS doc_id", "CAST(66 AS BIGINT) AS n_chars")
              .where("doc_id % 60 = 0"))
          src.createOrReplaceTempView(s"graft_mormrg_src_$tag")
          s.sql(
            s"""MERGE INTO $name AS t USING graft_mormrg_src_$tag AS s
               |ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
               |WHEN NOT MATCHED THEN INSERT (kb, doc_id, n_chars)
               |  VALUES (s.kb, s.doc_id, s.n_chars)""".stripMargin)
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""WITH merged AS (
             |  SELECT doc_id % 16 AS kb, doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 2000 ELSE n_chars END AS n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 3000000) % 16, doc_id + 3000000, 66
             |  FROM documents WHERE doc_id % 60 = 0)
             |SELECT kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM merged GROUP BY kb ORDER BY kb""".stripMargin),
      "merge-on-read MERGE upsert: matched rows as deletion vectors + appended versions, not-matched rows as appends, one atomic commit — the COW/MOR strategy pair complete"),

    // ── Streaming ingest into the transactional keyed table (q72) ────
    // The reference's Snowpipe leg END TO END: auto-ingest lands in
    // the WAREHOUSE table, not loose files (`README.md:43-44`). An
    // AvailableNow streaming query appends its epochs into a
    // graft-keyed layout through the epoch-committed StreamingWrite —
    // one CAS snapshot per epoch, per-query epoch markers for
    // exactly-once on replay (KeyedStreamWriteSpec pins the restart
    // window) — and the read-back aggregate is oracle-checked against
    // the same relational slice, proving streamed table ≡ batch truth.
    // At 100 TB: per-epoch cost is O(epoch delta) edit-appends;
    // compaction folds the accumulated files on its own schedule.
    "q72_stream_keyed_ingest" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-streamkeyed", dir)({
          val base = graft.io.TempDirs.scratch("graft_skw_")
          val src = s"$base/src"; val out = s"$base/t"; val ckpt = s"$base/ckpt"
          t(s, dir, "orders").selectExpr(
            "o_orderkey % 8 AS kb", "o_orderkey AS id", "o_orderstatus AS st",
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents")
            .write.mode("overwrite").parquet(src)
          val q = s.readStream
            .schema("kb BIGINT, id BIGINT, st STRING, cents BIGINT")
            .parquet(src)
            .writeStream.format("graft-keyed")
            .option("path", out)
            .option("schema", "kb BIGINT, id BIGINT, st STRING, cents BIGINT")
            .option("key", "kb").option("sortBy", "id").option("retain", "2")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, id BIGINT, st STRING, cents BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            max("id").as("last_id"))
          .orderBy("kb")
      },
      Some("""SELECT o_orderkey % 8 AS kb, count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
             |  max(o_orderkey) AS last_id
             |FROM orders GROUP BY 1 ORDER BY kb""".stripMargin),
      "streaming ingest into the transactional keyed table (the Snowpipe twin): AvailableNow epochs append through the CAS commit with exactly-once epoch markers; read-back aggregate equals the relational batch truth"),

    // ── Branch-then-promote backfill (q73) ────────────────────────────
    // Write-audit-publish at the TABLE layer (the reference's staged
    // promotion, `README.md:44`, as a ref lifecycle): fork a branch,
    // land the backfill on it (invisible to every main reader), audit
    // by reading the branch, then fast-forward main to the branch
    // state in ONE metadata commit — no data movement at promote, no
    // partial state ever visible. At 100 TB this is how a risky
    // multi-job backfill stays isolated: consumers read main
    // throughout and switch atomically. KeyedBranchSpec pins the
    // isolation/refusal/retention edges; this row oracle-checks the
    // promoted state against the batch truth.
    "q73_branch_promote" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-branch", dir)({
          val out = graft.io.TempDirs.scratch("graft_br_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          graft.sources.KeyedSource.createBranch(s, out, "backfill")
          t(s, dir, "documents")
            .selectExpr("(doc_id + 2000000) % 16 AS kb",
              "doc_id + 2000000 AS doc_id", "n_chars")
            .where("doc_id % 25 = 0")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .option("branch", "backfill")
            .mode("append").save(out)
          graft.sources.KeyedSource.fastForward(s, out, "backfill")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""WITH promoted AS (
             |  SELECT doc_id % 16 AS kb, doc_id, n_chars FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 2000000) % 16, doc_id + 2000000, n_chars
             |  FROM documents WHERE doc_id % 25 = 0)
             |SELECT kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM promoted GROUP BY kb ORDER BY kb""".stripMargin),
      "branch-then-promote backfill: appends land on a named branch invisible to main, audited on the branch ref, then fast-forwarded into main as one metadata commit — the staged-promotion lifecycle at the table layer"),

    // ── Bucket-count evolution (q74) ──────────────────────────────────
    // A layout staged at 16 buckets outgrows its fan-out; rebucket
    // splits every bucket to the doc_id % 32 grain in ONE pass (each
    // old directory read once into exactly two new ones), committed as
    // one serializable snapshot with pre-evolution time travel intact.
    // The same operator's hot-bucket-split form (skew repair: rewrite
    // one key, carry the rest by byte-identical reference) is pinned in
    // KeyedRebucketSpec; this row oracle-checks the evolved table at
    // the new grain.
    "q74_rebucket_evolution" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-rebucket", dir)({
          val out = graft.io.TempDirs.scratch("graft_rbk_") + "/bykb"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          graft.sources.KeyedCompact.rebucket(s, out,
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, n_chars BIGINT"),
            "kb", col("doc_id") % 32)
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""SELECT doc_id % 32 AS kb, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS last_doc
             |FROM documents GROUP BY 1 ORDER BY kb""".stripMargin),
      "bucket-count evolution: 16 -> 32 fan-out split committed as one serializable snapshot, old grain retained for time travel; aggregate read-back at the new grain equals batch truth"),

    // ── CDC-driven incremental view maintenance (q75) ─────────────────
    // The changes table made USEFUL: a downstream rollup is maintained
    // by applying one CDC interval's net delta (updates as
    // delete+insert pairs, O(changed keys) planned) to the previously
    // materialized result — never recomputing over the corpus. The
    // oracle IS the full recompute over the same final state, so the
    // row proves incremental ≡ recompute across a mixed UPDATE +
    // row-DELETE + append commit sequence. At 100 TB this is the
    // index-refresh/training-shard-rebuild pattern priced at O(what
    // changed); the per-micro-batch streaming form rides the same
    // operator (IvmSpec's foreachBatch leg).
    "q75_ivm_rollup" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-ivm", dir)({
          val out = graft.io.TempDirs.scratch("graft_ivm_")
          val tbl = s"$out/t"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            tbl, "kb", sortBy = Seq("doc_id"), retain = 8)
          def readT(asOf: Option[Long]) = {
            val r = s.read.format("graft-keyed").option("path", tbl)
              .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
              .option("key", "kb")
            asOf.fold(r)(v => r.option("asOf", v.toString)).load()
          }
          // R0: the rollup bootstrapped at snapshot 1, materialized
          Ivm.rollup(readT(Some(1L)), Seq("kb"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/rollup_v1")
          // the table moves on underneath: UPDATE + row DELETE + append
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.ivm_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$tbl' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8')")
          s.sql(s"UPDATE $name SET n_chars = n_chars + 500 WHERE doc_id % 9 = 1")
          s.sql(s"DELETE FROM $name WHERE doc_id % 11 = 3")
          t(s, dir, "documents")
            .selectExpr("(doc_id + 4000000) % 16 AS kb",
              "doc_id + 4000000 AS doc_id", "CAST(88 AS BIGINT) AS n_chars")
            .where("doc_id % 40 = 0")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(tbl)
          // ONE CDC read over (1, head] maintains the rollup
          val changes = s.read.format("graft-keyed").option("path", tbl)
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("metadata", "changes")
            .option("changesFrom", "1").load()
          Ivm.maintainRollup(s.read.parquet(s"$out/rollup_v1"), changes,
            Seq("kb"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/rollup_v2")
          s"$out/rollup_v2"
        })
        s.read.parquet(path)
          .select(col("kb"), col("n_rows"), col("sum_n_chars"))
          .orderBy("kb")
      },
      Some("""WITH updated AS (
             |  SELECT doc_id % 16 AS kb, doc_id,
             |    CASE WHEN doc_id % 9 = 1 THEN n_chars + 500 ELSE n_chars END AS n_chars
             |  FROM documents),
             |cur AS (
             |  SELECT * FROM updated WHERE doc_id % 11 <> 3
             |  UNION ALL
             |  SELECT (doc_id + 4000000) % 16, doc_id + 4000000, 88
             |  FROM documents WHERE doc_id % 40 = 0)
             |SELECT kb, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM cur GROUP BY kb ORDER BY kb""".stripMargin),
      "CDC-driven incremental view maintenance: a materialized rollup updated by one changes-interval delta across UPDATE + row-DELETE + append equals the full recompute (the oracle)"),

    // ── Non-key data skipping (q76 — Iceberg/Delta file skipping) ─────
    // The reference's recency scan (README.md:225 — `extracted_at >=
    // DATEADD(day, -7, …)` over an append-clustered table) at the
    // storage layer: documents staged keyed by a RANGE bucket
    // (doc_id*16 DIV (max+1) — the time-partition shape, where arrival
    // order clusters the timestamp), then filtered by a NON-KEY range
    // predicate. The predicate cannot be consumed at key grain — it
    // stays a residual Filter in the plan — but the stats sidecar's
    // per-key min/max(doc_id) PROVES 14 of the 16 directories empty
    // under it, so the scan plans ~2 partitions (`skipped=14` in the
    // scan description; KeyedSkippingSpec pins the count and the
    // DV/evolution/time-travel composition). At 100 TB this is the
    // single biggest scan cost the connector's own metadata can
    // eliminate: a 7-day slice of a year-long table reads ~2% of the
    // directories instead of 100% and still re-checks every emitted
    // row (honor-but-recheck — skipping needs a proof, never trust).
    // The max(doc_id) probe itself is metadata-answered (pushed
    // aggregate, zero data files), so the whole query opens only the
    // surviving directories' frames.
    "q76_nonkey_skipping" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-skip", dir)({
          val out = graft.io.TempDirs.scratch("graft_skip_") + "/bydoc"
          val docs = t(s, dir, "documents")
          val md = docs.agg(max("doc_id")).head().getLong(0)
          graft.sources.KeyedSource.stageKeyed(s,
            docs.selectExpr(s"doc_id * 16 DIV ${md + 1L} AS kb",
              "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"))
          out
        })
        def read = s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
        // metadata-answered max (sidecar, zero data files) → the
        // recency cutoff, same shape as DATEADD(day,-7,current)
        val md = read.agg(max("doc_id")).head().getLong(0)
        val lo = md - md / 8L
        read.where(col("doc_id") >= lo)
          .agg(count(lit(1)).as("n_recent"),
            sum("n_chars").cast("long").as("sum_chars"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
      },
      Some("""WITH m AS (SELECT max(doc_id) AS md FROM documents)
             |SELECT count(*) AS n_recent,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM documents, m
             |WHERE doc_id >= md - md // 8""".stripMargin),
      "non-key min/max data skipping: a residual range predicate prunes 14/16 directories through the stats sidecar while Spark still re-checks rows — the reference's 7-day recency scan priced by metadata"),

    // ── Type-widening schema evolution (q77 — Iceberg INT→BIGINT) ─────
    // The long-lived-table gap: a counter-class column staged INT
    // outgrows its type. Restaging 100 TB to change one column's width
    // is the wrong answer; the widening op (KeyedSource.WidenCol /
    // `ALTER COLUMN … TYPE BIGINT`) is ONE metadata commit — in this
    // text-framed layout the stored bytes are the same ASCII digits
    // under both types, so pre-widening generations decode PROMOTED
    // with zero rewrite, their sidecar stats stay trusted (min/max/sum
    // digits re-type), and the order-marker claim survives. The query
    // mixes a pre-widening INT generation with a post-widening BIGINT
    // append and aggregates across both; the final rollup here answers
    // from the SIDECAR (pushed aggregate, zero data files) — metadata
    // trust carried across a type change, which is the part Iceberg
    // calls out as hard. KeyedEvolutionSpec pins decode/time-travel/
    // refusal legs.
    "q77_type_widening" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-widen", dir)({
          val out = graft.io.TempDirs.scratch("graft_widen_") + "/t"
          val docs = t(s, dir, "documents")
          graft.sources.KeyedSource.stageKeyed(s,
            docs.selectExpr("doc_id % 16 AS kb", "doc_id",
              "CAST(n_chars AS INT) AS pop"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          graft.sources.KeyedSource.evolveKeyed(s, out,
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, pop INT"),
            Seq(graft.sources.KeyedSource.WidenCol("pop")))
          docs.where("doc_id % 10 = 0")
            .selectExpr("(doc_id + 9000000) % 16 AS kb",
              "doc_id + 9000000 AS doc_id", "n_chars + 7 AS pop")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, pop BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(out)
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, pop BIGINT")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n"),
            sum("pop").cast("long").as("sum_pop"),
            max("pop").as("max_pop"))
          .orderBy("kb")
      },
      Some("""WITH cur AS (
             |  SELECT doc_id % 16 AS kb, CAST(n_chars AS BIGINT) AS pop
             |  FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 9000000) % 16, n_chars + 7
             |  FROM documents WHERE doc_id % 10 = 0)
             |SELECT kb, count(*) AS n, CAST(sum(pop) AS BIGINT) AS sum_pop,
             |  max(pop) AS max_pop
             |FROM cur GROUP BY kb ORDER BY kb""".stripMargin),
      "INT→BIGINT widening as one metadata commit: pre-widening generations decode promoted with zero rewrite and their sidecar stats stay metadata-answer-worthy across the type change"),

    // ── Compressed generations (q78 — codec=deflate) ──────────────────
    // At 100 TB the BYTES are the dominant scan cost; until r18 the
    // keyed layout's framed text paid several× Parquet's footprint.
    // `codec=deflate` compresses each key file at write (RFC 1951,
    // JDK-only), recorded PER FILE in the `.dfl` suffix so readers
    // inflate by extension and mixed generations compose — an
    // uncompressed append over a compressed base, a COW rewrite either
    // way (derivative commits inherit by extension probe). Real-corpus
    // measurement in BASELINE.md r18; this query proves the full read
    // stack — frame decode, pushed aggregates, key pruning — over a
    // compressed layout with oracle-exact values. KeyedCodecSpec pins
    // byte shrink, the inflating decode, DV/skipping composition, and
    // codec inheritance.
    "q78_codec_roundtrip" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-codec", dir)({
          val out = graft.io.TempDirs.scratch("graft_codec_") + "/t"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents")
              .selectExpr("doc_id % 16 AS kb", "doc_id", "text", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), codec = "deflate")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, text STRING, n_chars BIGINT")
          .option("key", "kb").load()
          .where(col("kb").isin(2L, 7L, 11L))
          .groupBy("kb")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).cast("long").as("sum_len"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""SELECT doc_id % 16 AS kb, count(*) AS n,
             |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
             |  max(doc_id) AS last_doc
             |FROM documents WHERE doc_id % 16 IN (2, 7, 11)
             |GROUP BY kb ORDER BY kb""".stripMargin),
      "deflate-compressed generations: the full read stack (inflating frame decode, key pruning, aggregation) over .dfl frames with oracle-exact values — the 100 TB byte-cost lever measured in BASELINE.md"),

    // ── IVM with extremes (q79 — the DV-patch discipline at view grain)
    // q75 maintained count/sum; min/max are not decomposable under
    // deletes (the new extreme lives only in the surviving rows).
    // Ivm.maintainRollupFull repairs exactly like the DV stats patch:
    // detect the groups whose interval deletes touched a maintained
    // extreme (delta-sized join against the previous view), then
    // re-aggregate ONLY those groups from the interval-end state — a
    // pushed key-IN prune when the group is the layout key, bounded by
    // affected groups, never the corpus. The lifecycle here runs
    // UPDATE (new maxima via the insert half) → extreme-witness DELETE
    // (forces the repair) → append (new minima + rows) → COMPACT (CDC
    // nets to zero — maintenance commits are invisible to the view),
    // then ONE maintain call over the whole interval equals the full
    // recompute (the oracle).
    "q79_ivm_minmax" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-ivmmm", dir)({
          val out = graft.io.TempDirs.scratch("graft_ivmmm_")
          val tbl = s"$out/t"
          val schema = org.apache.spark.sql.types.StructType.fromDDL(
            "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            tbl, "kb", sortBy = Seq("doc_id"), retain = 8)
          def readT(asOf: Option[Long]) = {
            val r = s.read.format("graft-keyed").option("path", tbl)
              .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
              .option("key", "kb")
            asOf.fold(r)(v => r.option("asOf", v.toString)).load()
          }
          Ivm.rollupFull(readT(Some(1L)), Seq("kb"), Seq("n_chars"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v1")
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.ivmmm_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$tbl' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
          s.sql(s"UPDATE $name SET n_chars = n_chars + 5000 WHERE doc_id % 9 = 1")
          s.sql(s"DELETE FROM $name WHERE n_chars >= 5000")
          t(s, dir, "documents")
            .selectExpr("(doc_id + 4000000) % 16 AS kb",
              "doc_id + 4000000 AS doc_id", "CAST(3 AS BIGINT) AS n_chars")
            .where("doc_id % 40 = 0")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(tbl)
          graft.sources.KeyedCompact.compact(s, tbl, schema, "kb")
          val head = graft.sources.KeyedSource
            .readCommitLog(tbl, s.sessionState.newHadoopConf()).get.head.seq
          val changes = s.read.format("graft-keyed").option("path", tbl)
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("metadata", "changes")
            .option("changesFrom", "1").option("changesTo", head.toString).load()
          Ivm.maintainRollupFull(s.read.parquet(s"$out/v1"), changes,
            readT(Some(head)), Seq("kb"), Seq("n_chars"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v2")
          s"$out/v2"
        })
        s.read.parquet(path)
          .select(col("kb"), col("n_rows"), col("sum_n_chars"),
            col("min_n_chars"), col("max_n_chars"))
          .orderBy("kb")
      },
      Some("""WITH updated AS (
             |  SELECT doc_id % 16 AS kb, doc_id,
             |    CASE WHEN doc_id % 9 = 1 THEN n_chars + 5000 ELSE n_chars END AS n_chars
             |  FROM documents),
             |cur AS (
             |  SELECT kb, n_chars FROM updated WHERE n_chars < 5000
             |  UNION ALL
             |  SELECT (doc_id + 4000000) % 16, 3
             |  FROM documents WHERE doc_id % 40 = 0)
             |SELECT kb, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
             |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
             |FROM cur GROUP BY kb ORDER BY kb""".stripMargin),
      "IVM with extremes: min/max maintained across UPDATE + extreme-witness DELETE + append + compact by re-aggregating only the affected groups (the DV stats-patch discipline at view grain) — equals the full recompute"),

    // ── IVM over a join (q80 — delta-join, the q01 star shape) ────────
    // V = rollup(fact ⋈ dim) maintained by the signed delta-join
    // Δ(A⋈B) = ΔA⋈B_old ∪ A_new⋈ΔB (Ivm.joinDelta — the cross term
    // lands exactly once), with CHANGES ON BOTH SIDES: the fact takes
    // an update + delete + an append on a dim-less key (dropped by the
    // inner join on both paths), the dim relabels one key (COW
    // delete+insert pair). The delta feeds the same maintainRollup
    // every single-table view uses — delta composition. Per-refresh
    // cost: O(fact delta ⋈ dim) + O(fact ⋈ dim delta), both sides
    // pruned to changed keys by the changes scan; never a corpus join.
    "q80_ivm_join" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-ivmjoin", dir)({
          val out = graft.io.TempDirs.scratch("graft_ivmj_")
          val fTbl = s"$out/fact"
          val dTbl = s"$out/dim"
          val fddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
          val dddl = "kb BIGINT, label STRING"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            fTbl, "kb", sortBy = Seq("doc_id"), retain = 8)
          graft.sources.KeyedSource.stageKeyed(s,
            s.range(16).selectExpr("id AS kb",
              "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS label"),
            dTbl, "kb", retain = 8)
          def readT(tbl: String, ddl: String, asOf: Option[Long]) = {
            val r = s.read.format("graft-keyed").option("path", tbl)
              .option("schema", ddl).option("key", "kb")
            asOf.fold(r)(v => r.option("asOf", v.toString)).load()
          }
          def headOf(tbl: String): Long = graft.sources.KeyedSource
            .readCommitLog(tbl, s.sessionState.newHadoopConf()).get.head.seq
          def changesOf(tbl: String, ddl: String, from: Long, to: Long) =
            s.read.format("graft-keyed").option("path", tbl)
              .option("schema", ddl).option("key", "kb")
              .option("metadata", "changes")
              .option("changesFrom", from.toString)
              .option("changesTo", to.toString).load()
          Ivm.rollup(readT(fTbl, fddl, Some(1L)).join(readT(dTbl, dddl, Some(1L)), "kb"),
            Seq("label"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v1")
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          s.sql(s"DROP TABLE IF EXISTS graftcat.ivmjf_$tag")
          s.sql(s"CREATE TABLE graftcat.ivmjf_$tag (kb BIGINT, doc_id BIGINT, " +
            s"n_chars BIGINT) USING `graft-keyed` LOCATION '$fTbl' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
          s.sql(s"DROP TABLE IF EXISTS graftcat.ivmjd_$tag")
          s.sql(s"CREATE TABLE graftcat.ivmjd_$tag (kb BIGINT, label STRING) " +
            s"USING `graft-keyed` LOCATION '$dTbl' " +
            "TBLPROPERTIES('key'='kb','retain'='8')")
          s.sql(s"UPDATE graftcat.ivmjf_$tag SET n_chars = 900 WHERE doc_id % 11 = 4")
          s.sql(s"DELETE FROM graftcat.ivmjf_$tag WHERE doc_id % 13 = 6")
          t(s, dir, "documents")
            .selectExpr("CAST(99 AS BIGINT) AS kb",
              "doc_id + 7000000 AS doc_id", "n_chars")
            .where("doc_id % 50 = 0")
            .write.format("graft-keyed").option("schema", fddl)
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(fTbl)
          s.sql(s"UPDATE graftcat.ivmjd_$tag SET label = 'z' WHERE kb = 5")
          val (f1, d1) = (headOf(fTbl), headOf(dTbl))
          val delta = Ivm.joinDelta(
            changesOf(fTbl, fddl, 1L, f1), readT(dTbl, dddl, Some(1L)),
            readT(fTbl, fddl, Some(f1)), changesOf(dTbl, dddl, 1L, d1),
            Seq("kb"))
          Ivm.maintainRollup(s.read.parquet(s"$out/v1"), delta,
            Seq("label"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v2")
          s"$out/v2"
        })
        s.read.parquet(path)
          .select(col("label"), col("n_rows"), col("sum_n_chars"))
          .orderBy("label")
      },
      Some("""WITH cur AS (
             |  SELECT doc_id % 16 AS kb,
             |    CASE WHEN doc_id % 11 = 4 THEN 900 ELSE n_chars END AS n_chars
             |  FROM documents WHERE doc_id % 13 <> 6),
             |dim AS (
             |  SELECT kb, CASE WHEN kb = 5 THEN 'z'
             |    WHEN kb % 3 = 0 THEN 'a' WHEN kb % 3 = 1 THEN 'b'
             |    ELSE 'c' END AS label
             |  FROM (SELECT UNNEST(range(16)) AS kb))
             |SELECT label, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM cur JOIN dim USING (kb)
             |GROUP BY label ORDER BY label""".stripMargin),
      "IVM over a join: the signed delta-join ΔA⋈B_old ∪ A_new⋈ΔB maintains rollup(fact⋈dim) across changes on BOTH sides and equals the full recompute — per-refresh cost rides the deltas, never the corpus"),

    // ── Branch rebase promote (q81 — disjoint-key replay) ─────────────
    // q73 proved fast-forward; this is the r17 verdict's #4: main took
    // a DATA commit past the fork, so a fast-forward would discard it —
    // but the two lineages touched DISJOINT key sets (both computable
    // from the snapshots at key grain, the same sets the DML conflict
    // check prices), so promote REPLAYS the branch's per-key state onto
    // main's current head as ONE metadata commit: files referenced,
    // never copied; every main-side key keeps main's state; overlap
    // refuses loudly (KeyedBranchSpec). The audited-backfill workflow
    // survives a busy main instead of restarting.
    "q81_branch_rebase" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-rebase", dir)({
          val out = graft.io.TempDirs.scratch("graft_rebase_") + "/t"
          val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 8)
          graft.sources.KeyedSource.createBranch(s, out, "backfill")
          // branch lands keys 16/17; main advances on key 18 — disjoint
          t(s, dir, "documents").where("doc_id % 25 = 0")
            .selectExpr("16 + doc_id % 2 AS kb",
              "doc_id + 5000000 AS doc_id", "n_chars")
            .write.format("graft-keyed").option("schema", ddl)
            .option("key", "kb").option("sortBy", "doc_id")
            .option("branch", "backfill").mode("append").save(out)
          t(s, dir, "documents").where("doc_id % 30 = 0")
            .selectExpr("CAST(18 AS BIGINT) AS kb",
              "doc_id + 6000000 AS doc_id", "n_chars")
            .write.format("graft-keyed").option("schema", ddl)
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(out)
          graft.sources.KeyedSource.fastForward(s, out, "backfill")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .where(col("kb") >= 16L)
          .groupBy("kb")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").cast("long").as("sum_chars"))
          .orderBy("kb")
      },
      Some("""WITH ext AS (
             |  SELECT 16 + doc_id % 2 AS kb, n_chars
             |  FROM documents WHERE doc_id % 25 = 0
             |  UNION ALL
             |  SELECT 18, n_chars FROM documents WHERE doc_id % 30 = 0)
             |SELECT kb, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM ext GROUP BY kb ORDER BY kb""".stripMargin),
      "branch promote with rebase: main advanced past the fork, but disjoint touched-key sets let the promote replay branch edits onto the new head in one metadata commit — both lineages' rows live, zero data movement"),

    // ── Z-order as a WRITE option (q82 — q48's audit made real) ───────
    // q48 proved the pruning math on synthetic per-file stats; this
    // stages the ACTUAL connector layout: stageZOrdered buckets
    // lineitem's (l_partkey, l_suppkey) by the Morton interleave of
    // their 8-bit quantized forms into 64 key directories — square-ish
    // blocks of the 2-D plane, so the stats sidecar is tight on BOTH
    // dimensions and the r18 non-key skipping prunes the 2-D middle-
    // eighth predicate to ~4 of 64 directories where a linear sort
    // keeps 8 with ~2× the rows (KeyedSkippingSpec pins 4 vs 8 on a
    // uniform grid). The query runs that predicate against the live
    // layout; the oracle replays the quantization arithmetic over
    // lineitem. At 100 TB this is multi-dimensional file skipping on
    // the connector's own metadata — the Delta/Iceberg ZORDER BY
    // lever, composed from two already-shipped parts (Morton key
    // derivation + sidecar skipping) rather than a new operator.
    "q82_zorder_connector" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-zorder", dir)({
          val out = graft.io.TempDirs.scratch("graft_zord_") + "/t"
          graft.sources.KeyedSource.stageZOrdered(s,
            t(s, dir, "lineitem").select(
              col("l_orderkey").as("okey"), col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")),
            out, "pk", "sk")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema",
            "okey BIGINT, pk BIGINT, sk BIGINT, zq_pk BIGINT, zq_sk BIGINT, zb BIGINT")
          .option("key", "zb").load()
          .where(col("zq_pk").between(112L, 143L) &&
            col("zq_sk").between(112L, 143L))
          .agg(count(lit(1)).as("n"),
            sum(col("zq_pk") + col("zq_sk")).cast("long").as("qsum"),
            sum("okey").cast("long").as("osum"))
      },
      Some("""WITH st AS (SELECT min(l_partkey) AS pk0, max(l_partkey) AS pk1,
             |              min(l_suppkey) AS sk0, max(l_suppkey) AS sk1 FROM lineitem),
             |q AS (SELECT l_orderkey AS okey,
             |        ((l_partkey - pk0) * 256) // (pk1 - pk0 + 1) AS q1,
             |        ((l_suppkey - sk0) * 256) // (sk1 - sk0 + 1) AS q2
             |      FROM lineitem CROSS JOIN st)
             |SELECT count(*) AS n,
             |  CAST(sum(q1 + q2) AS BIGINT) AS qsum,
             |  CAST(sum(okey) AS BIGINT) AS osum
             |FROM q WHERE q1 BETWEEN 112 AND 143 AND q2 BETWEEN 112 AND 143""".stripMargin),
      "Z-order write option: Morton-bucketed layout whose sidecar prunes BOTH predicate dimensions through non-key skipping — q48's synthetic audit running against real connector files"),

    // ── Keyed DOUBLE lifecycle (q83 — FP joins the storable set) ──────
    // r18's top gap: the transactional layer refused floating point
    // outright, so the one type every real warehouse schema carries
    // (the reference's own latency metric is fractional —
    // /root/reference/README.md:222-225) had no DML, CDC, IVM, or
    // skipping. r19 stores DOUBLE/FLOAT as SORTABLE-BITS digits
    // (KeyedStats.sortableDouble — bit-exact IEEE, numeric order =
    // Spark's double order), which is what makes this oracle-able:
    // the score column is derived with EXACT binary arithmetic
    // (integer-valued doubles scaled by powers of two), staged keyed,
    // driven through a MOR UPDATE (new versions append; extremes
    // move) and a row-grain DELETE on the DOUBLE predicate (deletion
    // vectors + the exact stats patch, now with FP min/max), and the
    // final per-key count/min/max rollup answers FROM THE SIDECAR
    // (pushed aggregate over DV-patched, generation-merged fp
    // entries, zero data files). SUM of a double is deliberately NOT
    // in the query: the metadata layer refuses it (FP addition is
    // not associative), the honest line this layout draws.
    // KeyedDoubleSpec pins roundtrip/normalization/ordering/skipping;
    // KeyedEvolutionSpec the FLOAT→DOUBLE widening leg.
    "q83_keyed_double" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-dbl", dir)({
          val out = graft.io.TempDirs.scratch("graft_dbl_") + "/t"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents").selectExpr("doc_id % 16 AS kb", "doc_id",
              "(CAST(n_chars AS DOUBLE) - 512) / 16 AS score"),
            out, "kb", sortBy = Seq("doc_id"), retain = 8)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.dbl_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, score DOUBLE) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
          // +64 is exact for every stored magnitude; the update's new
          // versions APPEND (per-key generation merge on the fp leg)
          s.sql(s"UPDATE $name SET score = score + 64 WHERE doc_id % 9 = 1")
          // row-grain MOR delete on the DOUBLE predicate: deletion
          // vectors + the exact post-delete stats patch (fp min/max)
          s.sql(s"DELETE FROM $name WHERE score >= 50.0")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, score DOUBLE")
          .option("key", "kb").load()
          .groupBy("kb")
          .agg(count(lit(1)).as("n"),
            min("score").as("min_score"),
            max("score").as("max_score"))
          .orderBy("kb")
      },
      Some("""WITH base AS (
             |  SELECT doc_id % 16 AS kb, doc_id,
             |    (CAST(n_chars AS DOUBLE) - 512) / 16 AS score
             |  FROM documents),
             |upd AS (
             |  SELECT kb, doc_id,
             |    CASE WHEN doc_id % 9 = 1 THEN score + 64 ELSE score END AS score
             |  FROM base),
             |cur AS (SELECT * FROM upd WHERE NOT (score >= 50.0))
             |SELECT kb, count(*) AS n, min(score) AS min_score,
             |  max(score) AS max_score
             |FROM cur GROUP BY kb ORDER BY kb""".stripMargin),
      "DOUBLE in the transactional layer: bit-exact sortable-bits storage driven through MOR UPDATE + row-grain DELETE, per-key min/max answered from DV-patched fp sidecar entries with zero data files"),

    // ── File-grain skipping (q84 — Iceberg's manifest grain) ──────────
    // r18's q76 pruned whole KEY directories; a long-lived table's
    // keys accumulate one generation file per append, and at 100 TB a
    // single hot key's directory is itself TB-scale — Iceberg prunes
    // individual FILES through manifest stats. r19 re-proves the
    // residual conjuncts against each serving generation's OWN
    // per-(key, generation) sidecar entry (stats the writers already
    // derive — no new metadata) and drops generation files proven
    // empty, composing with DVs (refuse — ordinal stability) and
    // evolution (adapted parse). The lifecycle: base stage + two
    // appends give every key three files with disjoint doc_id
    // intervals (the time-partitioned append shape); the recency
    // filter then plans ONE file per key (`skippedFiles=16` in the
    // scan description, KeyedSkippingSpec pins it) while Spark still
    // re-checks rows — honor-but-recheck, the proof obligation grain
    // shrunk from directory to file.
    "q84_filegrain_skip" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-fskip", dir)({
          val out = graft.io.TempDirs.scratch("graft_fskip_") + "/t"
          val docs = t(s, dir, "documents")
          graft.sources.KeyedSource.stageKeyed(s,
            docs.selectExpr("doc_id % 8 AS kb", "doc_id", "n_chars"),
            out, "kb", retain = 4)
          Seq(1000000L, 2000000L).foreach { off =>
            docs.where(s"doc_id % ${if (off == 1000000L) 3 else 5} = 0")
              .selectExpr(s"(doc_id + $off) % 8 AS kb",
                s"doc_id + $off AS doc_id",
                s"n_chars + ${off / 1000000L} AS n_chars")
              .write.format("graft-keyed")
              .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
              .option("key", "kb").mode("append").save(out)
          }
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .where(col("doc_id") >= 2000000L)
          .groupBy("kb")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").cast("long").as("sum_chars"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("kb")
      },
      Some("""WITH cur AS (
             |  SELECT doc_id % 8 AS kb, doc_id, n_chars FROM documents
             |  UNION ALL
             |  SELECT (doc_id + 1000000) % 8, doc_id + 1000000, n_chars + 1
             |  FROM documents WHERE doc_id % 3 = 0
             |  UNION ALL
             |  SELECT (doc_id + 2000000) % 8, doc_id + 2000000, n_chars + 2
             |  FROM documents WHERE doc_id % 5 = 0)
             |SELECT kb, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM cur WHERE doc_id >= 2000000
             |GROUP BY kb ORDER BY kb""".stripMargin),
      "file-grain data skipping: a recency filter over a thrice-appended layout plans ONE generation file per kept key through per-(key, generation) sidecar proofs — Iceberg's manifest grain without new metadata"),

    // ── Planner statistics under DML (q85 — mergeable NDV, r19) ───────
    // r18's gap #3: `readView` dropped table NDV the moment a layout
    // took DML ("per-generation KMV estimates do not merge without
    // the sketches") — so the CBO/broadcast surfaces lost their
    // column statistics on any table that is actually edited, which
    // at 100 TB is every table. The fix is the repo's own x55: the
    // writers now PERSIST the mergeable KMV sketch bytes per
    // generation (`_graft_keyed_ndv` — every commit path: write,
    // COW, MOR insert, compaction, rebucket) and an edited view
    // unions them (k-smallest truncation, exact below K).
    // KeyedStatsSpec pins the union semantics and refusal; this row
    // drives the q59 shape THROUGH an UPDATE: the hint-free join
    // still broadcasts the point-pruned keyed read because the
    // edited view keeps reporting rows + column statistics, and the
    // values are oracle-exact.
    "q85_ndv_after_update" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-ndvupd", dir)({
          val out = graft.io.TempDirs.scratch("graft_ndvu_") + "/t"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents")
              .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            out, "kb", sortBy = Seq("doc_id"), retain = 4)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
          val name = s"graftcat.ndvu_$tag"
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (kb BIGINT, doc_id BIGINT, n_chars BIGINT) " +
            s"USING `graft-keyed` LOCATION '$out' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4')")
          s.sql(s"UPDATE $name SET n_chars = n_chars + 1000 WHERE doc_id % 7 = 1")
          out
        })
        val focus = s.read.format("graft-keyed").option("path", path)
          .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
          .option("key", "kb").load()
          .filter(col("kb") === 3L)
          .select("doc_id", "n_chars")
        // NO broadcast hint: the EDITED view's reported statistics
        // (rows from DV-corrected entries, NDVs from merged sketches)
        // make the pruned read the build side, post-UPDATE
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .join(focus, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH cur AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 1 THEN n_chars + 1000 ELSE n_chars END
             |      AS n_chars
             |  FROM documents WHERE doc_id % 16 = 3)
             |SELECT d.lang, count(*) AS n_docs,
             |  CAST(sum(cur.n_chars) AS BIGINT) AS sum_chars
             |FROM documents d JOIN cur ON d.doc_id = cur.doc_id
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
      "mergeable KMV sketches keep planner statistics alive under DML: the q59 hint-free broadcast decision and column NDVs survive an UPDATE, values oracle-exact"),

    // ── Catalog materialized view (q86 — IVM as a catalog feature) ────
    // q75/q79/q80 proved the delta algebra; r18's verdict called the
    // gap: "IVM is a library, not a catalog feature — nothing
    // registers a materialized view and refreshes it on commit." r19
    // registers the view IN GraftCatalog (GraftMv.MvSpec: group/sum/
    // extreme spec + last-applied source seq, persisted with the
    // warehouse store) and `refreshMaterializedView` derives the
    // changes interval ITSELF — the consumer never touches a seq or
    // an apply call, the Snowflake/Materialize UX. The lifecycle here
    // is q79's full mix (MOR UPDATE → extreme-witness DELETE → append
    // → compaction that CDC nets to zero) driven through SQL against
    // the source, then ONE refresh; the view — itself a keyed layout
    // keyed by the group, readable as an ordinary catalog table —
    // must equal the oracle's recompute of the final state. Refresh
    // cost at 100 TB: O(interval delta) + bounded extreme repair +
    // a group-domain-sized view rewrite, never a corpus scan
    // (GraftCatalogSpec pins persistence + no-op refresh).
    "q86_catalog_mv" -> Q(
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        SessionMemo.value(s, "layout-mv", dir)({
          val out = graft.io.TempDirs.scratch("graft_mv_")
          val tbl = s"$out/src"
          graft.sources.KeyedSource.stageKeyed(s,
            t(s, dir, "documents")
              .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            tbl, "kb", sortBy = Seq("doc_id"), retain = 8)
          s.conf.set("spark.sql.catalog.graftcat",
            classOf[graft.sources.GraftCatalog].getName)
          val srcName = s"mvsrc_$tag"
          s.sql(s"DROP TABLE IF EXISTS graftcat.$srcName")
          s.sql(s"DROP TABLE IF EXISTS graftcat.mv_$tag")
          s.sql(s"CREATE TABLE graftcat.$srcName (kb BIGINT, doc_id BIGINT, " +
            s"n_chars BIGINT) USING `graft-keyed` LOCATION '$tbl' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
          val cat = s.sessionState.catalogManager.catalog("graftcat")
            .asInstanceOf[graft.sources.GraftCatalog]
          import org.apache.spark.sql.connector.catalog.Identifier
          cat.createMaterializedView(
            Identifier.of(Array.empty, s"mv_$tag"),
            Identifier.of(Array.empty, srcName),
            group = "kb", sums = Seq("n_chars"), minMax = Seq("n_chars"),
            viewPath = s"$out/view")
          // the mixed interval: new maxima, extreme-witness deletes,
          // new minima via append, and a maintenance commit CDC nets
          // to zero — all AFTER the view's bootstrap snapshot
          s.sql(s"UPDATE graftcat.$srcName SET n_chars = n_chars + 5000 " +
            "WHERE doc_id % 9 = 1")
          s.sql(s"DELETE FROM graftcat.$srcName WHERE n_chars >= 5000")
          t(s, dir, "documents")
            .selectExpr("(doc_id + 4000000) % 16 AS kb",
              "doc_id + 4000000 AS doc_id", "CAST(3 AS BIGINT) AS n_chars")
            .where("doc_id % 40 = 0")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(tbl)
          graft.sources.KeyedCompact.compact(s, tbl,
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, n_chars BIGINT"), "kb")
          // ONE call; the catalog derives (lastApplied, head] itself
          cat.refreshMaterializedView(Identifier.of(Array.empty, s"mv_$tag"))
          out
        })
        s.table(s"graftcat.mv_$tag").orderBy("kb")
      },
      Some("""WITH survived AS (
             |  SELECT doc_id % 16 AS kb, doc_id, n_chars FROM documents
             |  WHERE doc_id % 9 <> 1),
             |cur AS (
             |  SELECT * FROM survived
             |  UNION ALL
             |  SELECT (doc_id + 4000000) % 16, doc_id + 4000000, 3
             |  FROM documents WHERE doc_id % 40 = 0)
             |SELECT kb, count(*) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
             |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
             |FROM cur GROUP BY kb ORDER BY kb""".stripMargin),
      "materialized view as a catalog object: registered spec + last-applied seq, one REFRESH derives the changes interval and delta-maintains count/sum/extremes across UPDATE+DELETE+append+compaction — equals the recompute"),

    // ── Hilbert-curve clustering (q87 — r18 stretch) ──────────────────
    // Morton's bit interleave (q82) has diagonal seams: consecutive
    // block indexes can jump across the plane, so a block of 1024
    // consecutive cells is sometimes two disconnected squares and a
    // 2-D band predicate keeps extra blocks. `curve=hilbert` clusters
    // by the Hilbert d-index instead — every step adjacent, every
    // block one connected tile — via a driver-built 256×256 lookup
    // shipped as a broadcast join (constant-size at any corpus scale,
    // no UDF; the state machine's data-dependent rotations don't
    // close into Morton's shift/mask terms). Same key surface, same
    // sidecar skipping; KeyedSkippingSpec pins hilbert ≤ morton
    // planned directories on the band predicate. The oracle is
    // q82's: the predicate lives on the stored quantized dims, so
    // results are bucketing-independent — exactly what makes a
    // clustering choice safe to change per table.
    "q87_hilbert_zorder" -> Q(
      (s, dir) => {
        val path = SessionMemo.value(s, "layout-hilbert", dir)({
          val out = graft.io.TempDirs.scratch("graft_hilb_") + "/t"
          graft.sources.KeyedSource.stageZOrdered(s,
            t(s, dir, "lineitem").select(
              col("l_orderkey").as("okey"), col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")),
            out, "pk", "sk", curve = "hilbert")
          out
        })
        s.read.format("graft-keyed").option("path", path)
          .option("schema",
            "okey BIGINT, pk BIGINT, sk BIGINT, zq_pk BIGINT, zq_sk BIGINT, zb BIGINT")
          .option("key", "zb").load()
          .where(col("zq_pk").between(112L, 143L) &&
            col("zq_sk").between(112L, 143L))
          .agg(count(lit(1)).as("n"),
            sum(col("zq_pk") + col("zq_sk")).cast("long").as("qsum"),
            sum("okey").cast("long").as("osum"))
      },
      Some("""WITH st AS (SELECT min(l_partkey) AS pk0, max(l_partkey) AS pk1,
             |              min(l_suppkey) AS sk0, max(l_suppkey) AS sk1 FROM lineitem),
             |q AS (SELECT l_orderkey AS okey,
             |        ((l_partkey - pk0) * 256) // (pk1 - pk0 + 1) AS q1,
             |        ((l_suppkey - sk0) * 256) // (sk1 - sk0 + 1) AS q2
             |      FROM lineitem CROSS JOIN st)
             |SELECT count(*) AS n,
             |  CAST(sum(q1 + q2) AS BIGINT) AS qsum,
             |  CAST(sum(okey) AS BIGINT) AS osum
             |FROM q WHERE q1 BETWEEN 112 AND 143 AND q2 BETWEEN 112 AND 143""".stripMargin),
      "Hilbert-curve clustering: the locality-preserving alternative to Morton blocks, pruning the same 2-D band through the same sidecar with never-more directories — bucketing-independent values, oracle-exact")
  )

  /** q49/q51 shared physical layout: events as a catalog table
    * partitioned by `event_date` — derived ONCE at write under the UTC
    * session (deriving at read would filter post-scan and open every
    * partition). One layout write per (session, corpus) via the same
    * session memo as the bucketed tables. */
  private def partitionedEvents(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_p_events_$tag"
    SessionMemo.value(s, "layout-part", dir)({
      t(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").format("parquet")
        .partitionBy("event_date").saveAsTable(tbl)
      tbl
    })
  }

  /** q51's calendar dimension: one row per distinct event day with a
    * `day_kind` attribute materialized INTO the table (day-of-month
    * ≡ 5 mod 10 → 'focus'), so the focus dates are facts in table
    * data that only a runtime subquery can surface — the shape
    * dynamic partition pruning exists for. Dimension-sized (≤ one row
    * per day) at any corpus scale. */
  private def calendarDim(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_p_caldim_$tag"
    SessionMemo.value(s, "layout-caldim", dir)({
      t(s, dir, "events")
        .select(to_date(col("ts")).as("event_date")).distinct()
        .withColumn("day_kind",
          when(dayofmonth(col("event_date")) % 10 === 5, lit("focus"))
            .otherwise(lit("regular")))
        .coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      tbl
    })
  }

  /** q54's co-keyed layout pair: documents and their per-doc token
    * stats staged as `graft-keyed` layouts under ONE scratch root,
    * both keyed by the materialized bucket surrogate kb = doc_id % 16
    * (identity-transform SPJ keys a BOUNDED surrogate, the same move
    * q47's bucket count makes). n_tokens is derived AT STAGE TIME with
    * the whitespace-token formula the oracle can replay
    * (length − length(sans-spaces) + 1), so the enrichment side is a
    * genuinely distinct table, not a re-projection at read. One write
    * per (session, corpus) via the session memo. */
  /** q56's CBO child session, one per parent session: same
    * SparkContext, shared external catalog and block-manager cache,
    * but an ISOLATED SQLConf — the cbo/joinReorder flags change
    * optimizer ESTIMATION globally, so unlike q54's layout flags they
    * must never become ambient state for other registered plans.
    * Execution confs every query depends on are copied from the
    * parent explicitly (newSession starts from the context's initial
    * conf, which loses anything the parent set dynamically). */
  private[graft] def cboSession(s: SparkSession): SparkSession =
    SessionMemo.value(s, "cbo-session", "", keep = true) {
      val c = s.newSession()
      Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
          "spark.sql.legacy.parquet.nanosAsLong")
        .foreach(k => s.conf.getOption(k).foreach(v => c.conf.set(k, v)))
      c.conf.set("spark.sql.cbo.enabled", "true")
      c.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      c
    }

  /** q56's ANALYZE'd catalog tables (customer/orders/nation), staged
    * once per (session, corpus generation) via the session memo
    * like every other layout; returns the table-name tag.
    * `FOR ALL COLUMNS` computes row count + size AND per-column
    * NDV/min/max/null stats — what join-reorder's cardinality
    * estimation feeds on. Stats live in the shared catalog entry, so
    * a corpus regeneration re-stages AND re-analyzes (a stale row
    * count would silently skew every estimate). */
  private[graft] def cboTables(c: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    SessionMemo.value(c, "layout-cbo", dir)({
      Seq("customer", "orders", "nation").foreach { tn =>
        val tbl = s"graft_cbo_${tn}_$tag"
        t(c, dir, tn).write.mode("overwrite").format("parquet").saveAsTable(tbl)
        c.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      tag
    })
  }

  private def keyedLayouts(s: SparkSession, dir: String): String =
    SessionMemo.value(s, "layout-keyed", dir)({
      val out = graft.io.TempDirs.scratch("graft_keyed_")
      val docs = t(s, dir, "documents")
      // sortBy = doc_id: each key file is written ordered, the order
      // marker licenses the scan's outputOrdering report, and q54's
      // SMJ plans zero Exchange AND zero Sort (ReportOrderingSpec) —
      // both halves of the join paid once, at layout-write time
      graft.sources.KeyedSource.stageKeyed(s,
        docs.selectExpr("doc_id % 16 AS kb", "doc_id", "source", "n_chars"),
        s"$out/docs", "kb", sortBy = Seq("doc_id"))
      graft.sources.KeyedSource.stageKeyed(s,
        docs.selectExpr("doc_id % 16 AS kb", "doc_id",
          "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens"),
        s"$out/tok", "kb", sortBy = Seq("doc_id"))
      // q57's bucket dimension: one row per stored key with a kind
      // attribute materialized INTO table data ((kb % 5) = 2 →
      // 'focus', 3 of 16), so the focus keys are facts only a runtime
      // subquery can surface — the shape connector-side DPP exists
      // for (the q51 calendarDim pattern at key grain)
      docs.selectExpr("doc_id % 16 AS kb").distinct()
        .selectExpr("kb",
          "CASE WHEN kb % 5 = 2 THEN 'focus' ELSE 'regular' END AS kind")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$out/dim")
      out
    })

  /** q61's pure-connector layout triple, staged on the CBO child
    * session (same memo lifecycle as every other layout): the two
    * fact-sized keyed layouts plus a source dimension whose `kind`
    * attribute lives only in table data — the selective predicate the
    * reorder must discover through the connector's reported column
    * statistics (ndv(kind)=2 → 0.5 selectivity; join on source
    * ndv=20), never through a literal in the query text. */
  private[graft] def cboKeyedLayouts(c: SparkSession, dir: String): String =
    SessionMemo.value(c, "layout-cbok", dir)({
      val out = graft.io.TempDirs.scratch("graft_cbok_")
      val docs = t(c, dir, "documents")
      graft.sources.KeyedSource.stageKeyed(c,
        docs.selectExpr("source", "doc_id", "n_chars"),
        s"$out/docs", "source", sortBy = Seq("doc_id"))
      graft.sources.KeyedSource.stageKeyed(c,
        docs.selectExpr("doc_id % 16 AS kb", "doc_id",
          "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens"),
        s"$out/tok", "kb", sortBy = Seq("doc_id"))
      graft.sources.KeyedSource.stageKeyed(c,
        docs.selectExpr("source").distinct()
          .selectExpr("source",
            "CASE WHEN CAST(substr(source, 4, 10) AS INT) % 7 = 2 " +
              "THEN 'focus' ELSE 'regular' END AS kind"),
        s"$out/dim", "source")
      out
    })

  /** q25 — pure range (interval) join, the scale-safe way.
    *
    * Problem shape: probe rows (lineitem shipdates) against OVERLAPPING
    * windows with NO equi key — the case Spark would otherwise plan as
    * BroadcastNestedLoopJoin (every probe row tests every window: fine
    * at 15 windows, a scale-killer when the window table grows). The
    * standard distributed fix is BINNING: explode each window into its
    * covered day-grain bins, join by bin EQUALITY (hash join — the
    * probe side computes its single bin map-side), then apply the exact
    * interval predicate as a residual filter. Each probe row lands in
    * exactly one bin, so no post-join dedup is needed; window cost is
    * bins-per-window (bounded by interval length / grain), not probe
    * rows. The bin grain is the tuning knob: pick it near the median
    * interval length so each window explodes to O(1) bins.
    *
    * PlanAuditSpec asserts the executed plan hash-joins (no
    * BroadcastNestedLoopJoin); the oracle is DuckDB's native
    * inequality join over the identical windows. */
  private def q25 = Q(
    (s, dir) => {
      val win = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(1000)) === 1)
        .select(col("o_orderkey").as("w_id"),
          (col("o_orderdate") - expr("INTERVAL 3 DAYS")).as("w_start"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("w_end"))
      val bins = win.select(col("w_id"), col("w_start"), col("w_end"),
        explode(sequence(to_date(col("w_start")), to_date(col("w_end")))).as("day"))
      t(s, dir, "lineitem")
        .select(col("l_shipdate"), to_date(col("l_shipdate")).as("day"))
        .join(broadcast(bins), Seq("day"))
        .filter(col("l_shipdate") >= col("w_start") &&
          col("l_shipdate") <= col("w_end"))
        .groupBy("w_id", "w_start")
        .agg(count(lit(1)).as("n_lines"))
        .orderBy("w_id")
    },
    Some("""SELECT o.o_orderkey AS w_id,
           |  o.o_orderdate - INTERVAL 3 DAY AS w_start,
           |  CAST(count(*) AS BIGINT) AS n_lines
           |FROM orders o JOIN lineitem l
           |  ON l.l_shipdate >= o.o_orderdate - INTERVAL 3 DAY
           | AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY
           |WHERE o.o_orderkey % 1000 = 1
           |GROUP BY 1, 2 ORDER BY w_id""".stripMargin),
    "range join via day-grain binning: bin-equality hash join + residual interval filter")

  /** q26 — arbitrary GROUPING SETS (beyond q21's strictly hierarchical
    * ROLLUP): the two single-dimension marginals plus the grand total,
    * WITHOUT the (status, priority) cross cell a rollup/cube would
    * force. Physical shape is unchanged — one Expand (3 replicas of
    * each input row, one per set) feeding one partial+final hash agg,
    * so one shuffle total regardless of how many sets are requested;
    * at 100 TB the knob that matters is replica count (= set count),
    * not distinct-key count. grouping() disambiguates a NULL group key
    * from a NULL data value — both engines emit it identically. */
  private def q26 = Q(
    (s, dir) => t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        sumCents(col("o_totalprice")).as("sum_price"))
      .orderBy(asc("g_status"), asc("g_priority"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           |  count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY g_status, g_priority,
           |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    "arbitrary grouping sets: one Expand + one hash agg, one shuffle for all sets")

  /** q27 — time-series densification (gap fill): daily event volume
    * over a LITERAL calendar span, with zero rows for days that never
    * appear in the data — the step every training-data freshness
    * dashboard needs before a window/trend computation, and one Spark
    * has no native operator for. The calendar side is sequence() over
    * the literal span exploded to one row per day (bounded by span
    * length, not data) and stays a broadcast build side; the fact side
    * aggregates FIRST (one shuffle on day), then left-joins the
    * calendar, so missing days cost nothing and the join is
    * calendar-rows × 1 lookup. Guards against both classic gap-fill
    * mistakes at scale: joining raw facts to the calendar (fanout),
    * and generating the calendar per-partition (duplicate days). */
  private def q27 = Q(
    (s, dir) => {
      val daily = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("value"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sumCents(col("value")).as("sum_value"))
      val calendar = s.range(1)
        .select(explode(sequence(
          to_date(lit("2024-01-01")), to_date(lit("2024-02-15")))).as("day"))
      calendar.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
           |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           |         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
           |  FROM events GROUP BY 1),
           |calendar AS (
           |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-02-15',
           |                                     INTERVAL 1 DAY)) AS DATE) AS day)
           |SELECT c.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n,
           |       coalesce(d.sum_value, 0.0) AS sum_value
           |FROM calendar c LEFT JOIN daily d ON c.day = d.day
           |ORDER BY c.day""".stripMargin),
    "gap fill: aggregate-then-join against an exploded literal calendar; zeros for missing days")

  /** q28 — Bloom-filter semi-join reduction, the canonical 100 TB
    * shuffle eliminator: a compact filter built from the small side's
    * join keys is broadcast and applied to the fact scan BEFORE any
    * join, so rows that cannot match never leave their input
    * partition. Here the filter is hand-rolled and fully deterministic
    * (m = 8192 bit positions, k = 3 md5-derived hash functions, the
    * set-bit list shipped as one sorted array in a single broadcast
    * row) so the DuckDB oracle can replay it bit-for-bit — including
    * its FALSE POSITIVES: the output counts both bloom survivors
    * (n_bloom) and exact matches (n_exact) per order status, making
    * the approximation itself an oracle-checked value, not a hidden
    * optimization. The exact inner join after the filter keeps the
    * final semantics precise, as in a real pipeline. At production
    * scale the same shape is Spark's own runtime-filter rewrite
    * (BloomFilterAggregate + BloomFilterMightContain); the hand-rolled
    * twin exists so the mechanism is testable against an oracle.
    * PlanAuditSpec pins: dim + bits broadcast, fact side never
    * sort-merge-joins. */
  private def q28 = Q(
    (s, dir) => {
      val m = 8192
      val words = m / 32 // dense bitmask: 256 words, 32 bits per BIGINT
      // 32 bits per word, not 64: DuckDB's checked << overflows on
      // 1::BIGINT << 63, and capping shifts at 31 also keeps every
      // word positive — no arithmetic-shift sign extension anywhere
      def bpos(key: Column, i: Int): Column = pmod(
        conv(substring(md5(concat(lit(i.toString), key.cast("string"))), 1, 15),
          16, 10).cast("long"), lit(m))
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey"))
      // The filter ships as a DENSE word array (m/32 longs), not a
      // set-bit list: probing an element_at index + shift is O(1) and
      // codegen'd, where the previous sorted-list array_contains was a
      // linear scan per probe — fact_rows × k × set_bits/2 comparisons,
      // the whole query's measured cost (3.1 s warm at sf0.1; the fact
      // side never got cheaper than the filter it was meant to dodge).
      // Build side stays tiny: distinct positions → per-word bit_or →
      // one map → one 256-word array in a single broadcast row.
      val wordRows = dim
        .select(explode(array((0 until 3).map(i => bpos(col("c_custkey"), i)): _*)).as("p"))
        .distinct()
        .groupBy((col("p") / 32).cast("long").as("w"))
        .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("word"))
      val mask = wordRows
        .agg(map_from_arrays(collect_list(col("w")), collect_list(col("word"))).as("wm"))
        .select(transform(sequence(lit(0L), lit(words.toLong - 1L)),
          i => coalesce(element_at(col("wm"), i), lit(0L))).as("mask"))
      // probe = (word >> bit) & 1, O(1) indexed access, fully codegen'd.
      // (SQL expr: the Scala shiftright overload only takes a literal
      // Int shift; the ShiftRight expression itself is column-column.)
      def hitExpr(i: Int): Column = expr(
        s"(shiftright(element_at(mask, cast(p$i / 32 as int) + 1), " +
          s"cast(p$i % 32 as int)) & 1L) = 1L")
      val o = t(s, dir, "orders")
      (0 until 3).foldLeft(o.crossJoin(broadcast(mask))) { // single-row build side
          case (df, i) => df.withColumn(s"p$i", bpos(col("o_custkey"), i))
        }
        .filter((0 until 3).map(hitExpr).reduce(_ && _))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_bloom"),
          count(col("c_custkey")).as("n_exact"))
        .orderBy("o_orderstatus")
    },
    // The oracle replays the dense-mask build bit-for-bit: identical
    // word split (p // 32), identical per-word bit_or, identical
    // (word >> b) & 1 probe — so the filter's false positives are an
    // oracle-checked VALUE on both sides, not a hidden optimization.
    Some("""WITH dim AS (
           |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
           |pos AS (
           |  SELECT DISTINCT
           |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || CAST(c_custkey AS VARCHAR)), 1, 15)
           |         AS BIGINT) % 8192 AS p
           |  FROM dim, (SELECT unnest(range(3)) AS i)),
           |wordrows AS (
           |  SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS word
           |  FROM pos GROUP BY 1),
           |mask AS (
           |  SELECT list(coalesce(wr.word, 0) ORDER BY g.i) AS mask
           |  FROM (SELECT unnest(range(256)) AS i) g LEFT JOIN wordrows wr ON wr.w = g.i),
           |probes AS (
           |  SELECT o.*,
           |    CAST('0x' || substr(md5('0' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 8192 AS p0,
           |    CAST('0x' || substr(md5('1' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 8192 AS p1,
           |    CAST('0x' || substr(md5('2' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 8192 AS p2
           |  FROM orders o),
           |passed AS (
           |  SELECT p.* FROM probes p, mask b
           |  WHERE ((b.mask[CAST(p0 // 32 AS INTEGER) + 1] >> CAST(p0 % 32 AS INTEGER)) & 1) = 1
           |    AND ((b.mask[CAST(p1 // 32 AS INTEGER) + 1] >> CAST(p1 % 32 AS INTEGER)) & 1) = 1
           |    AND ((b.mask[CAST(p2 // 32 AS INTEGER) + 1] >> CAST(p2 % 32 AS INTEGER)) & 1) = 1)
           |SELECT p.o_orderstatus,
           |  count(*) AS n_bloom,
           |  CAST(count(d.c_custkey) AS BIGINT) AS n_exact
           |FROM passed p LEFT JOIN dim d ON p.o_custkey = d.c_custkey
           |GROUP BY p.o_orderstatus ORDER BY p.o_orderstatus""".stripMargin),
    "deterministic bloom semi-join reduction; false positives oracle-checked via n_bloom vs n_exact")

  /** q29 — SCD2 / temporal-table compression: collapse each user's
    * event stream into state-change VALIDITY INTERVALS
    * [valid_from, valid_to) with an is_current flag — the
    * point-in-time lineage shape a training-data snapshot store needs
    * (\"which state was live when this example was sampled?\" is then
    * q22's as-of join against this table). Two window passes over the
    * SAME partition key (change detection via lag, interval close via
    * lead), so Catalyst plans ONE shuffle on user_id and runs both
    * windows back to back on the sorted partitions; rows leave the
    * operator compressed to state changes, typically orders of
    * magnitude smaller than the input stream. */
  private def q29 = Q(
    (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("state"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("state"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("state"))
      changes
        .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
        .select(col("user_id"), col("state"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"),
          col("event_id"))
        // event_id as the final sort key makes the output order TOTAL:
        // (user_id, valid_from, state) alone ties when two non-adjacent
        // runs of one state start at the same ts (possible in principle,
        // even though (user_id, ts) is unique in the generated data).
        .orderBy("user_id", "valid_from", "state", "event_id")
        .drop("event_id")
    },
    Some("""WITH ch AS (
           |  SELECT user_id, event_type AS state, ts, event_id,
           |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events),
           |chg AS (
           |  SELECT user_id, state, ts, event_id FROM ch
           |  WHERE prev IS NULL OR prev <> state)
           |SELECT user_id, state, ts AS valid_from,
           |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
           |FROM chg ORDER BY user_id, valid_from, state, event_id""".stripMargin),
    "SCD2 interval compression: lag change-detect + lead interval-close, one shuffle")

  /** q30 — PIVOT (long → wide reshaping): order counts and exact price
    * sums per priority, one column pair per status. The value list is
    * LITERAL on both sides — Spark's two-pass value-discovery pivot
    * (`.pivot(col)` without values) runs an extra distinct job and
    * makes the output schema data-dependent, which breaks both the
    * oracle contract (column set must be static) and schema stability
    * at scale. Physical shape: the pivot lowers to ONE hash aggregate
    * with conditional (filtered) aggregate expressions — one shuffle on
    * the groupBy key, same as a plain groupBy; the DuckDB twin is the
    * equivalent explicit FILTER aggregate. */
  private def q30 = Q(
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), sumCents(col("o_totalprice")).as("sum_price"))
      // pivot emits NULL (not 0) for an empty cell; the FILTER-agg twin
      // emits count 0 — normalize, and keep sums NULL-for-empty on both
      .select(col("o_orderpriority"),
        coalesce(col("F_n"), lit(0L)).as("f_n"), col("F_sum_price").as("f_sum_price"),
        coalesce(col("O_n"), lit(0L)).as("o_n"), col("O_sum_price").as("o_sum_price"),
        coalesce(col("P_n"), lit(0L)).as("p_n"), col("P_sum_price").as("p_sum_price"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
           |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
           |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
           |    FILTER (WHERE o_orderstatus = 'F') / 100.0 AS f_sum_price,
           |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
           |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
           |    FILTER (WHERE o_orderstatus = 'O') / 100.0 AS o_sum_price,
           |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
           |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
           |    FILTER (WHERE o_orderstatus = 'P') / 100.0 AS p_sum_price
           |FROM orders GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin),
    "literal-values PIVOT: one conditional-agg shuffle, static output schema")

  /** q31 — PageRank over the supplier↔part co-purchase graph (3 fixed
    * iterations, damping 0.85) — the canonical iterative-graph op a
    * data-curation stack needs beyond connected components (x36):
    * authority scoring over a derived entity graph.
    *
    * Determinism/oracle design: ranks live in integer MICRO-UNITS and
    * every per-iteration update is integer arithmetic only
    * (share = rank div degree; next = 150000 + (85·Σshare) div 100),
    * so partial-aggregation order cannot perturb a single bit and the
    * DuckDB twin (three chained CTEs) replays the loop exactly. A
    * float PageRank would hash-mismatch on accumulation order alone.
    *
    * Scale shape per iteration: the degree is PRE-JOINED into the
    * memoized edge list (src, dst, deg-of-src), so each round is ONE
    * broadcast join of the node-sized rank table into the edges plus
    * one partial+final hash agg shuffled on dst — the classic
    * distributed PageRank plan with the share projection fused into
    * the aggregate (Σ rank div deg ≡ Σ share, integer-exact). The
    * node-id space disambiguates the bipartite sides arithmetically
    * (supplier s → 2s, part p → 2p+1), and the graph is symmetrized so
    * every node has degree ≥ 1 (no dangling-mass term; the loop is
    * closed under the node set). 3 iterations ⇒ 3 shuffles, plan depth
    * linear — no checkpoint needed at this round count. */
  private def q31 = Q(
    (s, dir) => {
      // the distinct pair list feeds BOTH staged frames below (deg and
      // edges), each of which re-ran the full lineitem scan + distinct
      // shuffle on materialization — memoize+persist it once (r19; the
      // same signature-table discipline as deg/edges themselves, one
      // more clearMemo-released frame). The distinct's shuffle is
      // pinned at a row-count-derived width (the x36/edges 64k-rows-
      // per-partition rule): under advisory-sized AQE coalescing the
      // un-pinned exchange collapsed to one task and serialized the
      // dedup of |lineitem| pairs. repartition(N, src, dst) + distinct
      // share one exchange (the groupBy sees its clustering satisfied).
      val li = SessionMemo.frame(s, "q31-li", dir) {
        val raw = t(s, dir, "lineitem")
          .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        val rows = t(s, dir, "lineitem").count() // parquet metadata count
        val sizedPre = math.max(1L, math.min(
          s.conf.get("spark.sql.shuffle.partitions").toLong,
          rows / 65536L + 1L)).toInt
        val f = raw.repartition(sizedPre, col("src"), col("dst")).distinct().persist()
        // materialize NOW: deg's builder below reads
        // f.rdd.getNumPartitions, which on an un-materialized adaptive
        // plan would itself execute stages
        f.write.format("noop").mode("overwrite").save()
        f
      }
      // Memoized+persisted staging (LlmData's signature-table
      // lifecycle, released by clearMemo) — the in-query analog of
      // materializing the graph once, which is how an iterative job
      // holds its graph at real scale (x36 does the same via
      // checkpoints). Two frames:
      //   deg   (node, deg)       — |V|, seeds the rank table;
      //   edges (src, dst, deg)   — |E|, degree pre-joined so the loop
      //                             never touches deg again.
      // edges is REPARTITIONED by src into a partition count sized
      // from the MEASURED edge count (the x36 r4 treatment, one
      // partition per ~64k edge rows, capped at the session default):
      // the union of two 32-partition shuffles otherwise caches in 64
      // slivers, and every one of the loop's 3 scans pays
      // tasks-per-stage × rounds of pure scheduling overhead on a
      // KB-scale graph — while at cluster scale the cap keeps the
      // session's sizing and the src co-location is exactly the
      // pre-partitioning the no-broadcast fallback below needs.
      // the cached pair list's own width (metadata read on the
      // MATERIALIZED frame — no job)
      val liParts = math.max(1, li.rdd.getNumPartitions)
      val deg = SessionMemo.frame(s, "q31-deg", dir) {
        val sym = li.unionByName(li.select(col("dst").as("src"), col("src").as("dst")))
        // pin the degree aggregation's exchange at the pair list's
        // width: repartition(n, src) + groupBy(src) share one exchange,
        // and the width survives advisory-sized AQE coalescing (r19 —
        // same rationale as the li memo above)
        sym.repartition(liParts, col("src"))
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("src", "node").persist()
      }
      val edges = SessionMemo.frame(s, "q31-edges", dir) {
        // both staging scalars ride the deg build (|V| rows + one agg)
        val edgeRows = deg.agg(sum("deg")).head().getLong(0)
        val sized = math.max(1L, math.min(
          s.conf.get("spark.sql.shuffle.partitions").toLong, edgeRows / 65536L + 1L)).toInt
        val sym = li.unionByName(li.select(col("dst").as("src"), col("src").as("dst")))
        sym.join(broadcast(deg), col("src") === col("node"))
          .select(col("src"), col("dst"), col("deg"))
          .repartition(sized, col("src")).persist()
      }
      var rank = deg.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        // broadcast() EXPLICITLY: the rank table is node-sized (|V|,
        // bounded by the entity catalog — suppliers + parts — while
        // the cached edge list is |E| >> |V|), but the join inputs are
        // InMemoryRelations, which AQE cannot re-plan through (no
        // shuffle-stage stats), so without the hint the sf0.1 plan
        // silently degraded to SortMergeJoins that re-SORTED the
        // cached edge list every iteration — the exact drift the
        // scaladoc's "broadcast join" claim forbids (pinned at bench
        // scale by PlanAuditSpec). At |V| beyond broadcast capacity,
        // drop the hint: edges is already partitioned by src, so only
        // the node-sized rank table shuffles to meet it.
        rank = edges.join(broadcast(rank), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(expr("rank div deg")).as("inflow"))
          .select(col("dst").as("node"),
            (lit(150000L) + expr("(85 * inflow) div 100")).as("rank"))
      }
      rank.orderBy(desc("rank"), asc("node")).limit(20)
    },
    Some("""WITH li AS (
           |  SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
           |  FROM lineitem),
           |sym AS (SELECT src, dst FROM li UNION ALL SELECT dst, src FROM li),
           |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM deg),
           |s1 AS (SELECT r.node AS src, r.rank // d.deg AS share
           |       FROM r0 r JOIN deg d ON r.node = d.node),
           |r1 AS (SELECT e.dst AS node,
           |         CAST(150000 + (85 * sum(s.share)) // 100 AS BIGINT) AS rank
           |       FROM sym e JOIN s1 s ON e.src = s.src GROUP BY e.dst),
           |s2 AS (SELECT r.node AS src, r.rank // d.deg AS share
           |       FROM r1 r JOIN deg d ON r.node = d.node),
           |r2 AS (SELECT e.dst AS node,
           |         CAST(150000 + (85 * sum(s.share)) // 100 AS BIGINT) AS rank
           |       FROM sym e JOIN s2 s ON e.src = s.src GROUP BY e.dst),
           |s3 AS (SELECT r.node AS src, r.rank // d.deg AS share
           |       FROM r2 r JOIN deg d ON r.node = d.node),
           |r3 AS (SELECT e.dst AS node,
           |         CAST(150000 + (85 * sum(s.share)) // 100 AS BIGINT) AS rank
           |       FROM sym e JOIN s3 s ON e.src = s.src GROUP BY e.dst)
           |SELECT node, rank FROM r3
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin),
    "integer-micro-unit PageRank, 3 iterations: broadcast share join + one agg shuffle per round")

  /** q32 — sequential-stage funnel (view → click → purchase): users
    * reaching each stage, where a stage counts only when it happens
    * STRICTLY AFTER the user's earliest qualifying previous-stage
    * event — the ordering dependency that makes a funnel different
    * from three independent counts (a purchase before the first view
    * must NOT count).
    *
    * Shape: one min-ts aggregation per stage, each joined to the
    * previous stage's per-user frontier. Each stage's event_type
    * predicate pushes to the parquet scan (the scan reads one stage's
    * slice, not all events), every aggregation and join keys on
    * user_id, and each frontier is |users| rows — bounded by distinct
    * users, never by event volume, so the frontier side broadcasts
    * while small and degrades to a co-partitioned hash join at scale.
    * Catalyst additionally prunes the min(ts) out of the count-only
    * branches (the stage counts aggregate bare distinct user_ids). A
    * single-scan variant (conditional min over event_type) cannot
    * express the strictly-after chain without a per-user sort, which
    * is the more expensive plan at scale. */
  private def q32 = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val clicks = ev.filter(col("event_type") === "click")
        .join(views, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .join(clicks, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      views.agg(count(lit(1)).as("users"))
        .select(lit(1).as("stage"), lit("view").as("step"), col("users"))
        .unionAll(clicks.agg(count(lit(1)).as("users"))
          .select(lit(2).as("stage"), lit("click").as("step"), col("users")))
        .unionAll(purchases.agg(count(lit(1)).as("users"))
          .select(lit(3).as("stage"), lit("purchase").as("step"), col("users")))
        .orderBy("stage")
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           |           WHERE event_type = 'view' GROUP BY 1),
           |c AS (SELECT e.user_id, min(e.ts) AS t2
           |      FROM events e JOIN v ON e.user_id = v.user_id
           |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
           |p AS (SELECT e.user_id, min(e.ts) AS t3
           |      FROM events e JOIN c ON e.user_id = c.user_id
           |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
           |SELECT 1 AS stage, 'view' AS step, count(*) AS users FROM v
           |UNION ALL SELECT 2, 'click', count(*) FROM c
           |UNION ALL SELECT 3, 'purchase', count(*) FROM p
           |ORDER BY stage""".stripMargin),
    "sequential-stage funnel: per-stage min-ts frontier, one user_id partitioning reused across stages")
}
