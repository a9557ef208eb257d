"""Correctness checks, independent of the engine: DuckDB over the same
files, a DuckDB replay of the keyed op log, and a numpy brute force for
exact top-k. Each check returns the ids of ops whose output was wrong,
plus messages."""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb
import numpy as np

CORPUS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, str):
        try:  # engine decimals arrive as strings
            return float(decimal.Decimal(v)) if v[:1] in "-0123456789" and \
                any(c.isdigit() for c in v) and all(c in "-+.0123456789eE" for c in v) else v
        except decimal.InvalidOperation:
            return v
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return [[_norm(k), _norm(x)] for k, x in v.items()]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_equal(actual, expected):
    """Ordered equality, or equality as multisets when the order differs
    (ties a query does not order)."""
    a = [_norm(list(r)) for r in actual]
    e = [_norm(list(r)) for r in expected]
    if len(a) != len(e):
        return False
    if all(_same(x, y) for x, y in zip(a, e)):
        return True
    key = lambda r: json.dumps(r, sort_keys=True, default=str)
    return all(_same(x, y) for x, y in zip(sorted(a, key=key), sorted(e, key=key)))


def corpus_db(corpus):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    return con


def check_oracle(res, corpus, names):
    """Every result of the named queries against the engine's registered
    DuckDB twin, run on the same files."""
    con = corpus_db(corpus)
    bad, msgs, cache = [], [], {}
    for op in res["ops"]:
        if op["name"] not in names or not op["ok"]:
            continue
        key = (op["name"], op["result"])
        if key not in cache:
            sql = res["oracle"].get(op["name"])
            if sql is None:
                cache[key] = f"no oracle for {op['name']}"
            else:
                want = con.execute(sql).fetchall()
                got = res["results"][op["result"]]
                cache[key] = None if rows_equal(got, want) else \
                    f"{op['name']}: {len(got)} rows differ from the DuckDB twin ({len(want)} rows)"
        if cache[key]:
            bad.append(op["id"])
            msgs.append(cache[key])
    return bad, sorted(set(msgs))


def check_topk(res, corpus, name="x24_topk_cosine", k=10):
    """Exact top-k cosine against vec_id 0, by numpy brute force."""
    import pyarrow.parquet as pq
    t = pq.read_table(f"{corpus}/embeddings.parquet")
    ids = np.asarray(t.column("vec_id"))
    m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    q = m[ids == 0][0]
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    cos = cos[ids != 0]
    rest = ids[ids != 0]
    order = np.lexsort((rest, -cos))[:k]
    kth = cos[order[-1]]
    by_id = dict(zip(rest.tolist(), cos.tolist()))
    bad, msgs = [], []
    for op in res["ops"]:
        if op["name"] != name or not op["ok"]:
            continue
        got = res["results"][op["result"]]
        ok = len(got) == k and all(abs(by_id[int(i)] - c) <= 2e-6 for i, c in got) \
            and min(c for _, c in got) >= kth - 2e-6
        if not ok:
            bad.append(op["id"])
            msgs.append(f"{name}: top-{k} differs from the numpy brute force")
    return bad, sorted(set(msgs))


# ── etl_daily ────────────────────────────────────────────────────────

def check_etl(res, truth, corpus, reports):
    bad, msgs = check_oracle(res, corpus, set(reports))
    con = duckdb.connect()
    loads = [o for o in res["ops"] if o["name"] == "etl.daily_load"]
    for op, b in zip(loads, res["batches"]):
        if not op["ok"]:
            continue
        want = truth[b["day"]]
        out = b["out"]
        songs = dict(con.execute(
            f"SELECT song_id, popularity FROM read_parquet('{out}/song_data/*.parquet')").fetchall())
        albums = sorted(r[0] for r in con.execute(
            f"SELECT album_id FROM read_parquet('{out}/album_data/*.parquet')").fetchall())
        artists = sorted(r[0] for r in con.execute(
            f"SELECT artist_id FROM read_parquet('{out}/artist_data/*.parquet')").fetchall())
        problems = []
        if songs != want["songs"]:
            problems.append(f"songs {len(songs)} rows vs {len(want['songs'])} expected survivors")
        if albums != want["albums"]:
            problems.append(f"albums {len(albums)} vs {len(want['albums'])}")
        if artists != want["artists"]:
            problems.append(f"artists {len(artists)} vs {len(want['artists'])}")
        if problems:
            bad.append(op["id"])
            msgs.append(f"day {b['day']}: " + "; ".join(problems))
    return bad, msgs


def etl_user_bytes(res):
    """(bytes on disk, bytes of live user rows) over the loaded batches."""
    con = duckdb.connect()
    disk = user = 0
    for b in res["batches"]:
        for t in ("album_data", "artist_data", "song_data"):
            files = glob.glob(f"{b['out']}/{t}/*")
            disk += sum(os.path.getsize(f) for f in files)
            cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{b['out']}/{t}/*.parquet')").fetchall()
            terms = [f"coalesce(octet_length(CAST({c[0]} AS BLOB)), 0)"
                     if c[1] == "VARCHAR" else "8" for c in cols]
            user += con.execute(
                f"SELECT coalesce(sum({' + '.join(terms)}), 0) "
                f"FROM read_parquet('{b['out']}/{t}/*.parquet')").fetchone()[0]
    return disk, user


# ── keyed_upsert ─────────────────────────────────────────────────────

class KeyedReplay:
    """The op log replayed in DuckDB: the state after every op and the
    answer every read should have given."""

    def __init__(self, base):
        self.con = duckdb.connect()
        for t in ("cow", "mor"):
            self.con.execute(f"CREATE TABLE {t} AS SELECT kb, doc_id, n_chars "
                             f"FROM read_parquet('{base}')")
        self.snap = {t: self._state(t) for t in ("cow", "mor")}

    def _state(self, t):
        return set(self.con.execute(f"SELECT kb, doc_id, n_chars FROM {t}").fetchall())

    def apply(self, op):
        """Apply one op; returns (expected rows or None, rows changed)."""
        c, kind = self.con, op["op"]
        t = op.get("table", "cow")
        if kind == "merge":
            c.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_parquet('{op['src']}')")
            n = c.execute("SELECT count(*) FROM src").fetchone()[0]
            c.execute(f"DELETE FROM {t} WHERE doc_id IN (SELECT doc_id FROM src)")
            c.execute(f"INSERT INTO {t} SELECT kb, doc_id, n_chars FROM src")
            return None, n
        if kind == "ingest":
            c.execute(f"""CREATE OR REPLACE TEMP TABLE src AS
                SELECT doc_id % 16 AS kb, doc_id, max(n_chars) AS n_chars
                FROM read_parquet('{op['file']}') GROUP BY doc_id""")
            n = c.execute("SELECT count(*) FROM src").fetchone()[0]
            c.execute("DELETE FROM cow WHERE doc_id IN (SELECT doc_id FROM src)")
            c.execute("INSERT INTO cow SELECT kb, doc_id, n_chars FROM src")
            return None, n
        if kind == "update":
            n = c.execute(f"SELECT count(*) FROM {t} WHERE {op['where']}").fetchone()[0]
            c.execute(f"UPDATE {t} SET n_chars = n_chars + {op['delta']} WHERE {op['where']}")
            return None, n
        if kind == "delete":
            n = c.execute(f"SELECT count(*) FROM {t} WHERE {op['where']}").fetchone()[0]
            c.execute(f"DELETE FROM {t} WHERE {op['where']}")
            return None, n
        if kind == "compact":
            return None, 0
        if kind == "lookup":
            ids = ",".join(str(i) for i in op["ids"])
            return c.execute(f"SELECT doc_id, n_chars FROM {t} WHERE kb = {op['kb']} "
                             f"AND doc_id IN ({ids}) ORDER BY doc_id").fetchall(), 0
        if kind == "agg":
            kbs = ",".join(str(i) for i in op["kbs"])
            return c.execute(
                f"SELECT kb, count(*), min(n_chars), max(n_chars), CAST(sum(n_chars) AS BIGINT), "
                f"min(doc_id), max(doc_id) FROM {t} WHERE kb IN ({kbs}) "
                f"GROUP BY kb ORDER BY kb").fetchall(), 0
        if kind == "changes":
            now = self._state(t)
            before = self.snap[t]
            self.snap[t] = now
            agg = {}
            for label, rows in (("delete", before - now), ("insert", now - before)):
                for kb, _, n in rows:
                    a = agg.setdefault((label, kb), [0, 0])
                    a[0] += 1
                    a[1] += n
            return [[lab, kb, a[0], a[1]] for (lab, kb), a in sorted(agg.items())], 0
        raise ValueError(kind)


def check_keyed(res, spec):
    """Replays warmup + measured ops in DuckDB; every read must match and
    both final tables must equal the replayed state."""
    rp = KeyedReplay(spec["base"])
    for op in spec["warmup"] * spec["warmup_units"]:
        rp.apply(op)
    log = [op for b in spec["blocks"][:res["units"]] for op in b]
    bad, msgs, changed = [], [], {}
    ops = res["ops"]
    if len(ops) != len(log):
        return ([o["id"] for o in ops], [f"{len(ops)} ops ran, the log has {len(log)}"],
                {"changed": changed, "live_rows": 0})
    for op, entry in zip(ops, log):
        want, n = rp.apply(entry)
        changed[op["id"]] = n
        if not op["ok"]:
            continue
        if want is not None and not rows_equal(res["results"][op["result"]], want):
            bad.append(op["id"])
            msgs.append(f"{op['name']} (op {op['id']}) differs from the DuckDB replay")
    for t in ("cow", "mor"):
        if f"final_{t}_error" in res:
            msgs.append(f"final {t} dump failed: {res[f'final_{t}_error']}")
            bad.append(-1)
            continue
        got = set(tuple(r) for r in rp.con.execute(
            f"SELECT kb, doc_id, n_chars FROM read_parquet('{res[f'final_{t}']}/*.parquet')").fetchall())
        if got != rp._state(t):
            bad.append(-1)
            msgs.append(f"final {t} table differs from the replay ({len(got)} vs {len(rp._state(t))} rows)")
    live = sum(len(rp._state(t)) for t in ("cow", "mor"))
    return bad, msgs, {"changed": changed, "live_rows": live}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
