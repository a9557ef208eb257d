"""Seeded input generators, one per workload.

Everything here runs before the measured JVM starts; the engine only
ever sees the files written here. Each generator returns a dict that
goes into the harness spec plus the ground truth the checks need.
"""
import os
import subprocess
import sys
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]


# ── base corpus in the testdata shape (FIXTURES.md §A) ───────────────

def _ts(rng, n, lo, hi):
    lo_us = int(lo.timestamp() * 1e6)
    hi_us = int(hi.timestamp() * 1e6)
    return pa.array(rng.integers(lo_us, hi_us, size=n), type=pa.timestamp("us"))


def write_base_corpus(out, rng, n_cust, n_orders, n_docs, n_vecs, dim=64):
    """A small corpus with the schema of the repository's testdata: the
    seed input `tools/gen_scale.py` scales up. Key domains stay below the
    offsets gen_scale.py tiles by."""
    os.makedirs(out, exist_ok=True)
    w = lambda name, cols: pq.write_table(pa.table(cols), f"{out}/{name}.parquet")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": pa.array(regions)})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
    w("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n_cust)])})
    n_supp = max(10, n_cust // 15)
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    n_part = max(200, n_cust * 4 // 3)
    adj = ["cold", "small", "large", "red", "fast"]
    noun = ["widget", "bolt", "gear", "pipe", "valve"]
    types = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL"]
    w("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([types[i] for i in rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2))})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    odate = _ts(rng, n_orders, datetime(1995, 1, 1), datetime(2001, 8, 1))
    w("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_orders), 2)),
        "o_orderdate": odate,
        "o_orderpriority": pa.array([prios[i] for i in rng.integers(0, 5, n_orders)])})
    n_line = n_orders * 4
    lok = rng.integers(0, n_orders, n_line)
    ship = np.asarray(odate.cast(pa.int64()))[lok] + \
        rng.integers(1, 121, n_line) * 86400 * 1_000_000
    w("lineitem", {
        "l_orderkey": pa.array(lok.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us"))})
    n_ev = n_orders * 2 // 3
    etypes = ["error", "signup", "purchase", "view", "click"]
    w("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(rng, n_ev, datetime(2024, 1, 1), datetime(2024, 1, 8)),
        "user_id": pa.array(rng.integers(0, 15, n_ev)),
        "event_type": pa.array([etypes[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0, 500, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(8, 111)))
             for _ in range(n_docs)]
    w("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([["en", "de", "fr", "es", "zh"][i] for i in rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})


def scaled_corpus(repo, out, seed, factor, **base):
    """Seeded base corpus, scaled by `tools/gen_scale.py` (unchanged)."""
    rng = np.random.default_rng(seed)
    src = out + "-base"
    write_base_corpus(src, rng, **base)
    subprocess.run([sys.executable, os.path.join(repo, "tools", "gen_scale.py"),
                    src, out, str(factor), str(seed)],
                   check=True, stdout=subprocess.DEVNULL)
    return out


# ── etl_daily: raw playlist envelopes (FIXTURES.md §B) ───────────────

def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class _Universe:
    """Artists, albums and tracks, created as days need them."""

    def __init__(self, rng):
        self.rng = rng
        self.artists = []   # json fragments
        self.albums = []    # (id, json fragment, artist idx)
        self.tracks = []    # (id, json prefix, json suffix, base popularity, album, artists)

    def artist(self):
        i = len(self.artists)
        aid = f"ar{i:020d}"
        self.artists.append(
            f'{{"id":"{aid}","name":"Artist {i}",'
            f'"external_urls":{{"spotify":"https://open.spotify.com/artist/{aid}"}}}}')
        return i

    def album(self, artist):
        r = self.rng
        i = len(self.albums)
        aid = f"al{i:020d}"
        y = int(r.integers(1990, 2024))
        rd = [f"{y}", f"{y}-{int(r.integers(1, 13)):02d}",
              f"{y}-{int(r.integers(1, 13)):02d}-{int(r.integers(1, 29)):02d}"][i % 3]
        kind = ["album", "single", "compilation"][int(r.integers(0, 3))]
        self.albums.append((aid, f'{{"id":"{aid}","name":"Album {i}","release_date":"{rd}",'
                            f'"total_tracks":{int(r.integers(1, 30))},"album_type":"{kind}",'
                            f'"label":"Label {i % 97}",'
                            f'"external_urls":{{"spotify":"https://open.spotify.com/album/{aid}"}}}}',
                            artist))
        return i

    def track(self, album):
        r = self.rng
        i = len(self.tracks)
        tid = f"tr{i:020d}"
        first = self.albums[album][2]
        arts = [first] + [int(r.integers(0, len(self.artists)))
                          for _ in range(int(r.integers(0, 3)))]
        prefix = (f'{{"id":"{tid}","name":"Track {i}","duration_ms":{int(r.integers(60000, 400000))},'
                  f'"popularity":')
        suffix = (f',"explicit":{"true" if r.random() < 0.2 else "false"},'
                  f'"external_urls":{{"spotify":"https://open.spotify.com/track/{tid}"}},'
                  f'"album":{self.albums[album][1]},'
                  f'"artists":[{",".join(self.artists[a] for a in arts)}]}}')
        self.tracks.append((tid, prefix, suffix, int(r.integers(0, 101)), album, arts))
        return i


def etl_inputs(root, seed, playlists, tracks, n_days, add_share, drop_share, shared_share):
    """The reference extracts whole playlists once a day, one envelope
    per playlist with every track in it. This writes an initial
    extraction (the base) and `n_days` daily re-extractions of the same
    `playlists` playlists of about `tracks` tracks each, as JSON lines
    in the S5 landing layout. Each day a playlist drops `drop_share` of
    its tracks and gains `add_share` new ones; a `shared_share` of the
    tracks also sit in another playlist, so the same track repeats
    within a day. Most items therefore repeat tracks loaded on earlier
    days (the incremental filter's work) and some repeat within the day
    (dedup's work). Returns the per-day ground truth."""
    rng = np.random.default_rng(seed)
    u = _Universe(rng)
    for _ in range(50):
        u.artist()
    for _ in range(50):
        u.album(int(rng.integers(0, len(u.artists))))
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    loaded = {"songs": set(), "albums": set(), "artists": set()}
    out = {"days": [], "stamps": [], "truth": []}

    def fresh_track():
        if rng.random() < 0.5 and u.albums:
            alb = int(rng.integers(0, len(u.albums)))
        else:
            art = u.artist() if rng.random() < 0.5 else int(rng.integers(0, len(u.artists)))
            alb = u.album(art)
        return u.track(alb)

    # playlist p: track index -> added_at, in playlist order
    lists = [dict() for _ in range(playlists)]

    def add(p, ti, day_t, j):
        lists[p][ti] = day_t - timedelta(days=1) + timedelta(seconds=j)

    def grow(day_t, n_new):
        for p in range(playlists):
            others = [t for q in range(playlists) if q != p for t in lists[q]]
            for j in range(n_new):
                if others and rng.random() < shared_share:
                    ti = others[int(rng.integers(0, len(others)))]
                else:
                    ti = fresh_track()
                add(p, ti, day_t, j)

    def make_day(d):
        day_dir = os.path.join(root, f"day{d}", "raw_data", "to_processed")
        os.makedirs(day_dir)
        day_t = t0 + timedelta(days=d)
        # popularity as the API reports it that day, the same in every playlist
        pops = {}
        survivors = {}
        albums, artists = set(), set()
        n_items = 0
        for p, members in enumerate(lists):
            ext = day_t + timedelta(seconds=30 * p)
            pid = f"pl{p:020d}"
            items = []
            nulls = rng.random(len(members)) < 0.003
            for j, (ti, added) in enumerate(members.items()):
                tid, prefix, suffix, pop0, alb, arts = u.tracks[ti]
                if ti not in pops:
                    pops[ti] = (pop0 + int(rng.integers(0, 40))) % 101
                pop = pops[ti]
                if nulls[j]:
                    body = prefix.replace(f'"id":"{tid}"', '"id":null', 1)
                else:
                    body = prefix
                    key = (ext, added)
                    if tid not in survivors or key > survivors[tid][0]:
                        survivors[tid] = (key, pop)
                albums.add(u.albums[alb][0])
                artists.update(f"ar{a:020d}" for a in arts)
                items.append(f'{{"added_at":"{_iso(added)}","track":{body}{pop}{suffix}}}')
            n_items += len(items)
            env = (f'{{"playlist_id":"{pid}","extracted_at":"{_iso(ext)}",'
                   f'"extraction_timestamp":"{_iso(ext)}","total_tracks":{len(items)},'
                   f'"playlist_info":{{"name":"Playlist {p}","description":"daily",'
                   f'"owner":{{"id":"owner{p}","display_name":"Owner"}},"public":true,'
                   f'"followers":{{"href":null,"total":{1000 + p}}}}},'
                   f'"tracks":[{",".join(items)}]}}')
            name = f"playlist_{pid}_{ext.strftime('%Y%m%d_%H%M%S')}.json"
            with open(os.path.join(day_dir, name), "w") as f:
                f.write(env + "\n")
        truth = {
            "items": n_items,
            "songs": {t: pop for t, (_, pop) in survivors.items() if t not in loaded["songs"]},
            "albums": sorted(albums - loaded["albums"]),
            "artists": sorted(artists - loaded["artists"]),
        }
        loaded["songs"] |= set(survivors)
        loaded["albums"] |= albums
        loaded["artists"] |= artists
        return day_dir, _iso(day_t).replace("T", " ").rstrip("Z"), truth

    grow(t0, tracks)
    out["base"], out["base_stamp"], _ = make_day(0)
    for d in range(1, n_days + 1):
        day_t = t0 + timedelta(days=d)
        for members in lists:
            keys = list(members)
            for i in rng.choice(len(keys), int(len(keys) * drop_share), replace=False):
                del members[keys[i]]
        grow(day_t, int(tracks * add_share))
        day_dir, stamp, truth = make_day(d)
        out["days"].append(day_dir)
        out["stamps"].append(stamp)
        out["truth"].append(truth)
    return out


# ── keyed_upsert: base rows and a seeded op log ──────────────────────

def keyed_inputs(root, seed, base_rows, batch_rows, n_blocks, retain):
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    ids = np.arange(base_rows, dtype=np.int64)
    pq.write_table(pa.table({"kb": ids % 16, "doc_id": ids,
                             "n_chars": rng.integers(40, 600, base_rows).astype(np.int64)}),
                   f"{root}/base.parquet")
    next_new = [0]
    files = [0]

    def fresh(kb, n):
        out = 10_000_000 + (np.arange(next_new[0], next_new[0] + n, dtype=np.int64) * 16) + kb
        next_new[0] += n
        return out

    def batch_ids(n, kbs, new_share):
        per = n // len(kbs)
        out = []
        for kb in kbs:
            n_new = int(per * new_share)
            # existing ids of this key from the base range
            old = rng.choice(np.arange(kb, base_rows, 16), per - n_new, replace=False)
            out.append(np.concatenate([old.astype(np.int64), fresh(kb, n_new)]))
        return np.concatenate(out)

    def merge(table):
        kbs = sorted(rng.choice(16, 2, replace=False).tolist())
        d = batch_ids(batch_rows, kbs, 0.2)
        path = f"{root}/merge_{files[0]}.parquet"
        files[0] += 1
        pq.write_table(pa.table({"kb": d % 16, "doc_id": d,
                                 "n_chars": rng.integers(40, 900, len(d)).astype(np.int64)}), path)
        return {"op": "merge", "table": table, "src": path}

    def ingest():
        kbs = sorted(rng.choice(16, 2, replace=False).tolist())
        d = batch_ids(batch_rows, kbs, 0.3)
        n = len(d)
        path = f"{root}/ingest_{files[0]}.parquet"
        files[0] += 1
        texts = [f"ingested doc {i}" for i in d]
        pq.write_table(pa.table({
            "doc_id": d, "text": pa.array(texts),
            "lang": pa.array(["en"] * n), "source": pa.array([f"src{i % 20}" for i in d]),
            "n_chars": rng.integers(40, 900, n).astype(np.int64)}), path)
        return {"op": "ingest", "file": path}

    def kb():
        return int(rng.integers(0, 16))

    def lookup(table):
        k = kb()
        ids = sorted(int(x) for x in rng.choice(np.arange(k, base_rows, 16), 5, replace=False))
        return {"op": "lookup", "table": table, "kb": k, "ids": ids}

    def agg(table):
        return {"op": "agg", "table": table,
                "kbs": sorted(int(x) for x in rng.choice(16, 3, replace=False))}

    def update(table):
        return {"op": "update", "table": table, "delta": int(rng.integers(1, 500)),
                "where": f"kb = {kb()} AND doc_id % 11 = {int(rng.integers(0, 11))}"}

    def delete(table):
        return {"op": "delete", "table": table,
                "where": f"kb = {kb()} AND doc_id % 23 = {int(rng.integers(0, 23))}"}

    def block():
        # the same ops on the same tables in every block, so every unit
        # of the closed loop does the same kind of work
        return [merge("cow"), lookup("cow"), merge("mor"), agg("mor"), update("mor"),
                delete("cow"), ingest(), {"op": "changes", "table": "cow"},
                {"op": "compact", "table": "mor"}]

    warmup = block()
    blocks = [block() for _ in range(n_blocks)]
    return {"base": f"{root}/base.parquet", "retain": retain,
            "warmup": warmup, "blocks": blocks}
