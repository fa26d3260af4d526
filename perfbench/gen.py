"""Seeded input generator for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed, generator
arguments). Outputs are cached under `<cache>/<workload>-<digest>/`, where
the digest covers the full argument set, so a repeated run with the same
arguments reuses the files and a changed argument never reads stale ones.

    query_catalogue  the ten TESTDATA tables, with sf0.1's schemas and row
                     counts (parquet written by pyarrow, one file each, as
                     the reference test data is)
    corpus_curation  documents + embeddings: planted exact duplicates,
                     near-duplicate clusters and clustered unit vectors
    daily_ingest     pipe-delimited `{HOTEL}_{MMddyyyy_HH-mm-ss}.csv`
                     batches, one directory per day, plus the site listing
                     for each day and the initial state
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the reference test data (TESTDATA.md)
SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000,
    "events": 100000, "documents": 5000, "embeddings": 2000,
}

DEFAULTS = {
    "query_catalogue": {},
    # size = documents; dup_rate = share of documents that are exact
    # copies of another one; cluster = members per near-duplicate cluster
    "corpus_curation": {"size": 200, "vectors": 1500, "dup_rate": 0.05,
                        "cluster": 4, "dim": 64},
    # days = days per pass after the base load; hotels = hotels listed on
    # day 0; rows = rows per file; change = share of hotels re-published
    # per day; new = hotels added per day; redownload = share of a day's
    # hotels downloaded twice that day (the later file wins). Counts are
    # exact, so every seed ingests the same number of rows.
    "daily_ingest": {"days": 2, "hotels": 40, "rows": 600, "change": 0.15,
                     "new": 2, "redownload": 0.1},
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def cache_dir(root, workload, seed, args):
    key = json.dumps({"w": workload, "seed": seed, "args": args}, sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(root, f"{workload}-{digest}")


def generate(root, workload, seed, overrides=None, keep=6):
    """Generate (or reuse) the inputs; returns (dir, args)."""
    args = dict(DEFAULTS[workload], **(overrides or {}))
    out = cache_dir(root, workload, seed, args)
    if os.path.exists(os.path.join(out, "DONE")):
        return out, args
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "query_catalogue":
        write_sf_tables(tmp, rng)
    elif workload == "corpus_curation":
        write_corpus(tmp, rng, args)
    else:
        write_daily(tmp, rng, args)
    with open(os.path.join(tmp, "ARGS.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "args": args}, f)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.rename(tmp, out)
    prune(root, keep)
    return out, args


def prune(root, keep):
    """Bound the cache: keep the `keep` most recently generated sets."""
    sets = [os.path.join(root, d) for d in os.listdir(root)
            if os.path.exists(os.path.join(root, d, "DONE"))]
    sets.sort(key=os.path.getmtime)
    for d in sets[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def _ts(start, seconds):
    return pa.array((np.datetime64(start, "us")
                     + np.asarray(seconds).astype("timedelta64[s]")),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def _documents(rng, texts):
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dim, centers=None):
    if centers is None:
        v = rng.normal(size=(n, dim))
        labels = rng.integers(0, 10, n)
    else:
        labels = rng.integers(0, len(centers), n)
        v = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32) % 10),
    }


def write_sf_tables(d, rng):
    """The ten TESTDATA tables at sf0.1 shape: same names, column types,
    row counts and value domains as the reference test data."""
    n = SF01_ROWS
    _write(d, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(d, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    c = n["customer"]
    _write(d, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    _write(d, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = np.array("blue old small new red large hot cold".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    _write(d, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(rng.choice(adj, p), " "),
                              rng.choice(noun, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    day = 86400
    _write(d, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    _write(d, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, li) * day)})
    e = n["events"]
    us = np.sort(rng.integers(0, 30 * day * 1_000_000, e))
    _write(d, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e).astype(np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = _texts(rng, n["documents"])
    # the reference corpus carries ~5% " dup"-suffixed copies of other
    # documents; keep that property
    for i in rng.choice(len(texts), len(texts) // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, len(texts)))] + " dup"
    _write(d, "documents", _documents(rng, texts))
    _write(d, "embeddings", _embeddings(rng, n["embeddings"], 64))


def write_corpus(d, rng, a):
    n, cluster = a["size"], a["cluster"]
    texts = _texts(rng, n, 20, 120)
    ids = rng.permutation(n)
    n_exact = int(n * a["dup_rate"])
    # exact duplicates: a copy of an earlier original
    for i in ids[:n_exact]:
        texts[i] = texts[int(ids[n_exact + rng.integers(0, n - n_exact)])]
    # near-duplicate clusters: `cluster - 1` edited copies of one base
    # document, each with ~5% of its tokens replaced
    pos = n_exact
    while pos + cluster <= n and pos < n_exact + n // 5:
        base = texts[ids[pos]].split()
        for j in range(1, cluster):
            t = list(base)
            for k in rng.choice(len(t), max(1, len(t) // 20), replace=False):
                t[k] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[ids[pos + j]] = " ".join(t)
        pos += cluster
    _write(d, "documents", _documents(rng, texts))
    centers = rng.normal(size=(32, a["dim"]))
    _write(d, "embeddings", _embeddings(rng, a["vectors"], a["dim"], centers))


DAILY_HEADER = "STAY_DATE|ROOM_TYPE|RATE|AVAIL"
ROOM_TYPES = ["KING", "QUEEN", "SUITE", "TWIN"]


def _hotel_codes(rng, n):
    codes = set()
    while len(codes) < n:
        k = int(rng.integers(3, 6))
        codes.add("".join(chr(65 + c) for c in rng.integers(0, 26, k)))
    return sorted(codes)


def write_daily(d, rng, a):
    """Day 0 is the base load (every listed hotel); days 1..days each
    re-publish a `change` share of hotels and add `new` hotels. A file
    restates all of a hotel's rows; between versions ~1/4 of the rows
    change their values. MANIFEST.json lists the files of each day."""
    days, rows = a["days"], a["rows"]
    total = a["hotels"] + a["new"] * days
    codes = _hotel_codes(rng, total)
    stays = rows // len(ROOM_TYPES)
    start = dt.datetime(2024, 3, 1, 6, 0, 0)
    rate = {h: np.round(rng.uniform(80, 400, stays * len(ROOM_TYPES)), 2)
            for h in codes}
    avail = {h: rng.integers(0, 30, stays * len(ROOM_TYPES)) for h in codes}
    listed = {h: start for h in codes[:a["hotels"]]}
    manifest = []

    def publish(day_dir, h, when, day):
        r, av = rate[h], avail[h]
        if day > 0:
            ch = rng.random(len(r)) < 0.25
            r[ch] = np.round(rng.uniform(80, 400, ch.sum()), 2)
            av[ch] = rng.integers(0, 30, ch.sum())
        first = (when + dt.timedelta(days=1)).date()
        lines = [DAILY_HEADER]
        for i in range(len(r)):
            sd = first + dt.timedelta(days=i // len(ROOM_TYPES))
            lines.append(f"{sd.isoformat()}|{ROOM_TYPES[i % len(ROOM_TYPES)]}"
                         f"|{r[i]:.2f}|{av[i]}")
        name = f"{h}_{when.strftime('%m%d%Y_%H-%M-%S')}.csv"
        with open(os.path.join(day_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        return name

    for day in range(days + 1):
        day_dir = os.path.join(d, "daily", f"day_{day:02d}")
        os.makedirs(day_dir)
        base = start + dt.timedelta(days=day)
        if day == 0:
            chosen = list(listed)
        else:
            old = sorted(listed)
            k = max(1, int(round(len(old) * a["change"])))
            chosen = [old[i] for i in rng.choice(len(old), k, replace=False)]
            fresh = codes[len(old):len(old) + a["new"]]
            chosen += fresh
        files = []
        again = set() if day == 0 else set(rng.choice(
            sorted(chosen), int(round(len(chosen) * a["redownload"])), replace=False))
        for j, h in enumerate(sorted(chosen)):
            when = base + dt.timedelta(seconds=37 * j)
            files.append(publish(day_dir, h, when, day))
            if h in again:
                files.append(publish(day_dir, h, when + dt.timedelta(hours=2),
                                     day))
                when = when + dt.timedelta(hours=2)
            listed[h] = when
        manifest.append({"day": day, "files": sorted(files)})
        with open(os.path.join(d, "daily", f"listing_{day:02d}.json"), "w") as f:
            for h in sorted(listed):
                f.write(json.dumps({"hotel_cd": h, "lst_optimization":
                                    listed[h].strftime("%Y-%m-%d %H:%M:%S")})
                        + "\n")
    with open(os.path.join(d, "daily", "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
