"""Seeded input generation and expected results for the chbench workloads.

Every input is a pure function of (workload, seed, seconds): the same
arguments write byte-identical tables. Expected results are computed here,
outside any timed region: once per seed by DuckDB (the point_sql twins) or
by an independent Python implementation (planted near-duplicate pairs,
SimHash, the streaming window/dedup/watermark outcome), and after every run
by DuckDB from the oracle SQL the measured engine reports. `run.py`
compares each op's result digest with the expected one.
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# canonical result digests (mirrored by chbench/Digest.scala)

_Q6 = decimal.Decimal("0.000001")
_EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    """One value as text: integers in decimal, floats HALF_UP at 6 dp,
    timestamps as UTC epoch microseconds, dates as ISO, NULL as \\N."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        if v == 0:
            return "0.000000"
        return str(decimal.Decimal(v).quantize(_Q6, rounding=decimal.ROUND_HALF_UP))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(rows):
    """Order-insensitive digest of a result: sorted canonical rows. A
    result holding floating values also keeps its rows, for
    `close_enough`."""
    lines = sorted("\t".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    d = {"rows": len(lines), "sha256": h}
    if any(isinstance(v, (float, decimal.Decimal)) for r in rows for v in r):
        d["lines"] = lines
    return d


_FLOAT = re.compile(r"-?[0-9]+\.[0-9]{6}")


def close_enough(got, want):
    """The repository's oracle policy (scripts/selfcheck.py) for results
    whose digests differ: the same rows, value by value; a value where both
    sides are canonical floats (6 dp, as `canon` writes them) may differ by
    1e-9 relative, every other value (integers, keys, counts, timestamps,
    dates, text) must be equal. Sums rounded after being added up in
    another order can land on either side of a rounding tie."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        gv, wv = g.split("\t"), w.split("\t")
        if len(gv) != len(wv):
            return False
        for a, b in zip(gv, wv):
            if a == b:
                continue
            if not (_FLOAT.fullmatch(a) and _FLOAT.fullmatch(b)):
                return False
            x, y = float(a), float(b)
            if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                return False
    return True


# --------------------------------------------------------------------------
# xxHash64 (the hash Spark's XXH64 computes), for the independent SimHash

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc, v):
    acc ^= _round(0, v)
    return (acc * _P1 + _P4) & _M


def xxh64(data, seed):
    n, p = len(data), 0
    seed &= _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while p + 32 <= n:
            for i in range(4):
                v[i] = _round(v[i], int.from_bytes(data[p:p + 8], "little"))
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p:p + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def simhash64(tokens):
    """SimHash as graft's SimHash64 defines it: bit b is set when more
    token hashes (xxHash64, seed 42) have bit b set than clear."""
    votes = [0] * 64
    for t in tokens:
        h = xxh64(t.encode("utf-8"), 42) & _M
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    return out - (1 << 64) if out >= 1 << 63 else out


# --------------------------------------------------------------------------
# table writing

def _write(out, name, table, files=1):
    """Each table is a directory of `files` parquet files, so large tables
    split into several scan tasks. Spark reads the directory; DuckDB globs
    it."""
    d = os.path.join(out, name + ".parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(d, f"part-{i:03d}.parquet"),
                           row_group_size=256 * 1024)


def _dict_col(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
# every stopword graft's language guesser knows: the synthetic vocabulary
# avoids them all, so a document's language is decided by EN_STOPWORDS only
ALL_STOPWORDS = set(EN_STOPWORDS) | {
    "el", "la", "de", "que", "y", "en", "un", "es", "por", "los", "le",
    "et", "les", "des", "est", "une", "dans", "der", "die", "das", "und",
    "ist", "von", "mit", "den", "ein", "nicht", "il", "di", "che", "per",
    "una", "sono", "con", "non", "del"}


def star_schema(out, rng, sizes, big_files):
    """TPC-H-shaped star schema plus the events table, with the fixture
    column names and types (FIXTURES.md). `sizes` gives row counts."""
    n_c, n_o, n_l, n_e = sizes["customer"], sizes["orders"], sizes["lineitem"], sizes["events"]
    n_s, n_p = sizes["supplier"], sizes["part"]
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": _dict_col(rng, SEGMENTS, n_c)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s))}))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n_p)]),
        "p_brand": _dict_col(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
        "p_type": _dict_col(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900, 2100, n_p))}))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": _dict_col(rng, ["F", "O", "P"], n_o),
        "o_totalprice": pa.array(_money(rng, 850, 500000, n_o)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_o)),
        "o_orderpriority": _dict_col(rng, PRIORITIES, n_o)}), big_files)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _dict_col(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _dict_col(rng, ["F", "O"], n_l),
        "l_shipdate": pa.array(_days(rng, "1995-01-01", 2500, n_l))}), big_files)
    # strictly increasing, unique event times: ASOF matches never tie
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6 // max(n_e, 1)) + 2, n_e)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n_e // 60, 1), n_e).astype(np.int64)),
        "event_type": _dict_col(rng, EVENT_TYPES, n_e),
        "value": pa.array(_money(rng, 0, 100, n_e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)])}), big_files)


def _vocab(rng, n):
    syll = ["ba", "ke", "ti", "mo", "ru", "sa", "ne", "pi", "lo", "vu",
            "ga", "de", "ri", "ko", "tu", "fa", "me", "si", "no", "zu"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(syll[int(i)] for i in rng.integers(0, len(syll), k))
        if w not in ALL_STOPWORDS:
            words.add(w)
    return sorted(words)


def shingles(tokens, k=3):
    """Distinct word k-shingles (the set q_dedup_minhash's Jaccard is over)."""
    return {" ".join(tokens[i:i + k]) for i in range(max(len(tokens) - k + 1, 1))}


def corpus(out, rng, n_docs, dup_rate, n_vecs, dim=64):
    """Documents with planted near-duplicates and an embedding set.

    A planted duplicate copies an original document and replaces one token,
    which keeps the word-3-shingle Jaccard at or above 0.9; no original is
    copied twice and no copy is copied again, so the planted pairs are the
    only pairs at or above the 0.8 threshold. Returns the planted pairs
    (id_a, id_b, jaccard)."""
    vocab = _vocab(rng, 3000)
    n_dups = int(n_docs * dup_rate)
    n_orig = n_docs - n_dups
    docs = []
    for i in range(n_orig):
        n_tok = int(rng.integers(40, 90))
        toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), n_tok)]
        if rng.random() < 0.6:  # English stopwords decide lang_guess = 'en'
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, n_tok))] = EN_STOPWORDS[int(rng.integers(0, 10))]
        docs.append(toks)
    planted = []
    originals = rng.permutation(n_orig)[:n_dups]
    for o in originals:
        src = docs[int(o)]
        while True:
            toks = list(src)
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            a, b = shingles(src), shingles(toks)
            j = len(a & b) / len(a | b)
            if 0.9 <= j < 1.0:
                break
        planted.append((int(o), len(docs), j))
        docs.append(toks)
    texts = [" ".join(t) for t in docs]
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": _dict_col(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}), 4)
    emb = rng.standard_normal((n_vecs, dim)).astype(np.float32) * np.float32(0.12)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_vecs).astype(np.int32))}), 4)
    return planted, texts


def duck(out):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(out, name)}/*.parquet')")
    return con


# --------------------------------------------------------------------------
# workloads: inputs, op lists and expected digests

SF001 = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
         "supplier": 100, "part": 2000}
# 1.67x sf0.1 (1M lineitem rows) for the tables the analytic mix scans
OLAP = {"customer": 25000, "orders": 250000, "lineitem": 1000000, "events": 100000,
        "supplier": 1700, "part": 33000}
TINY = {"customer": 150, "orders": 1500, "lineitem": 6000, "events": 1000,
        "supplier": 10, "part": 200}
OLAP_QUERIES = ["q_scan_project", "q_agg_basic", "q_join_inner", "q_join_chain",
                "q_window_rank", "q_topn", "q_count_distinct", "q_asof_join",
                "q_tumble_agg"]
# tables each query reads, for rows_per_s
OLAP_TABLES = {"q_scan_project": ["lineitem"], "q_agg_basic": ["lineitem"],
               "q_join_inner": ["orders", "customer"],
               "q_join_chain": ["customer", "nation", "region"],
               "q_window_rank": ["customer"], "q_topn": ["orders"],
               "q_count_distinct": ["orders"], "q_asof_join": ["events"],
               "q_tumble_agg": ["events"]}
TEXT_QUERIES = ["q_dedup_minhash", "q_simhash", "q_text_analysis", "q_ann_topk"]
TEXT_DOCS, TEXT_DUP_RATE, TEXT_VECS = 4000, 0.05, 10000
STREAM_BATCH, STREAM_DUP_RATE, STREAM_LATE_RATE = 20000, 0.02, 0.01
STREAM_SPAN_S, STREAM_DELAY_S = 60, 90  # event time per batch; watermark delay
STREAM_LATE_FROM = 1  # first batch with planted late rows (needs a watermark)
# one olap_scan rotation: the nine analytic builders, two operator queries
# over a small corpus, and one micro-batch through the three streams
OLAP_ROTATION = OLAP_QUERIES + ["q_dedup_minhash", "q_ann_topk", "batch"]
OLAP_DOCS, OLAP_DUP_RATE, OLAP_VECS, OLAP_BATCH = 1000, 0.05, 2000, 5000


def _table_rows(sizes):
    return dict(sizes, region=5, nation=25)


def _point_ops(rng, n, sizes):
    """Seeded CH-dialect short queries, each with its DuckDB twin. The
    templates rotate so any window of six ops holds each once."""
    n_l, n_o, n_c = sizes["lineitem"], sizes["orders"], sizes["customer"]
    n_p, n_s = sizes["part"], sizes["supplier"]
    ops = []
    for i in range(n):
        t = i % 6
        day = lambda: str(np.datetime64("1995-01-01") + int(rng.integers(0, 2300)))
        if t == 0:
            q, d1 = int(rng.integers(5, 45)), day()
            d2 = str(np.datetime64(d1) + int(rng.integers(30, 400)))
            ch = (f"SELECT count() AS n FROM lineitem WHERE l_quantity > {q} "
                  f"AND l_shipdate >= toDate('{d1}') AND l_shipdate < toDate('{d2}')")
            dk = (f"SELECT count(*) AS n FROM lineitem WHERE l_quantity > {q} "
                  f"AND l_shipdate >= DATE '{d1}' AND l_shipdate < DATE '{d2}'")
            rows = n_l
        elif t == 1:
            disc, s = int(rng.integers(1, 10)) / 100, int(rng.integers(n_s // 4, n_s))
            ch = (f"SELECT l_returnflag, countIf(l_discount > {disc}) AS c, count() AS n "
                  f"FROM lineitem WHERE l_suppkey < {s} GROUP BY l_returnflag "
                  f"ORDER BY l_returnflag")
            dk = (f"SELECT l_returnflag, count(*) FILTER (WHERE l_discount > {disc}) AS c, "
                  f"count(*) AS n FROM lineitem WHERE l_suppkey < {s} "
                  f"GROUP BY l_returnflag ORDER BY l_returnflag")
            rows = n_l
        elif t == 2:
            p = int(rng.integers(1000, 400000))
            ch = (f"SELECT o_orderpriority, uniqExact(o_custkey) AS u FROM orders "
                  f"WHERE o_totalprice > {p} GROUP BY o_orderpriority ORDER BY o_orderpriority")
            dk = (f"SELECT o_orderpriority, count(DISTINCT o_custkey) AS u FROM orders "
                  f"WHERE o_totalprice > {p} GROUP BY o_orderpriority ORDER BY o_orderpriority")
            rows = n_o
        elif t == 3:
            k = int(rng.integers(2, 12))
            r = int(rng.integers(0, k))
            ch = (f"SELECT toStartOfMonth(o_orderdate) AS m, count() AS n FROM orders "
                  f"WHERE o_custkey % {k} = {r} GROUP BY m ORDER BY m")
            dk = (f"SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, count(*) AS n "
                  f"FROM orders WHERE o_custkey % {k} = {r} GROUP BY m ORDER BY m")
            rows = n_o
        elif t == 4:
            c, lim = int(rng.integers(20, max(n_c // 10, 21))), int(rng.integers(1, 4))
            # the selected columns are the sort keys, so ties cannot change
            # the result
            ch = (f"SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey < {c} "
                  f"ORDER BY o_custkey, o_totalprice DESC LIMIT {lim} BY o_custkey")
            dk = (f"SELECT o_custkey, o_totalprice FROM (SELECT o_custkey, o_totalprice, "
                  f"row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) "
                  f"AS rn FROM orders WHERE o_custkey < {c}) WHERE rn <= {lim}")
            rows = n_o
        else:
            pk, q = int(rng.integers(n_p // 10, n_p)), int(rng.integers(10, 50))
            ch = (f"SELECT count() AS n, sum(l_linenumber) AS s FROM lineitem "
                  f"PREWHERE l_partkey < {pk} WHERE l_quantity < {q}")
            dk = (f"SELECT count(*) AS n, sum(l_linenumber) AS s FROM lineitem "
                  f"WHERE l_partkey < {pk} AND l_quantity < {q}")
            rows = n_l
        ops.append(({"sql": ch, "rows": rows}, dk))
    return ops


def _stream(out, rng, n_batches, n=STREAM_BATCH):
    """Event micro-batches with planted duplicates and late rows, as TSV
    (event_id, ts in epoch µs, user_id, event_type, value), and the
    cumulative outcome expected after each batch.

    Batch b covers event time [T0 + 60b s, T0 + 60(b+1) s) and its latest
    event sits 10 ms before the end, so the watermark after b (latest
    event - 90 s) never falls on a 30 s window edge. Planted duplicates
    repeat an event of the same batch or of the last 20 s of the previous
    one (both still ahead of the watermark); planted late rows (from batch
    STREAM_LATE_FROM on, once a watermark exists) carry new ids and times
    3-4 batches old, far behind it."""
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    span, delay = STREAM_SPAN_S * 10**6, STREAM_DELAY_S * 10**6
    os.makedirs(os.path.join(out, "stream"), exist_ok=True)
    next_id, prev = 0, None
    kept = {"tumble": {}, "hop": {}}
    dedup_total, specs, expected = 0, [], []
    for b in range(n_batches):
        n_late = int(n * STREAM_LATE_RATE) if b >= STREAM_LATE_FROM else 0
        n_dup = int(n * STREAM_DUP_RATE)
        n_new = n - n_late - n_dup
        base = t0 + b * span
        ts = base + rng.integers(0, span - 10**4, n_new)
        ts[0] = base + span - 10**4
        fresh = np.stack([np.arange(next_id, next_id + n_new), ts,
                          rng.integers(0, 5000, n_new), rng.integers(0, 5, n_new),
                          rng.integers(0, 1000, n_new)], axis=1)
        next_id += n_new
        pool = fresh if prev is None else np.concatenate(
            [fresh, prev[prev[:, 1] >= base - 20 * 10**6]])
        dups = pool[rng.integers(0, len(pool), n_dup)]
        late = np.stack([np.arange(next_id, next_id + n_late),
                         base - 4 * span + rng.integers(0, span, n_late),
                         rng.integers(0, 5000, n_late), rng.integers(0, 5, n_late),
                         rng.integers(0, 1000, n_late)], axis=1).reshape(-1, 5)
        next_id += n_late
        rows = np.concatenate([fresh, dups, late])[rng.permutation(n)]
        name = f"stream/batch-{b:05d}.tsv"
        with open(os.path.join(out, name), "w") as f:
            et = np.array(EVENT_TYPES)[rows[:, 3]]
            f.write("".join(f"{r[0]}\t{r[1]}\t{r[2]}\t{e}\t{r[4]}\n"
                            for r, e in zip(rows.tolist(), et.tolist())))
        specs.append({"batch": name, "rows": n})
        prev = fresh
        # every row that is not late feeds both window aggregates; dedup
        # emits each new id once
        dedup_total += n_new
        live = np.concatenate([fresh, dups])
        w = live[:, 1] // (30 * 10**6) * (30 * 10**6)
        for kind, starts in (("tumble", [w]), ("hop", [w - 30 * 10**6, w])):
            for st in starts:
                keys, inv = np.unique(np.stack([st, live[:, 3]], axis=1), axis=0,
                                      return_inverse=True)
                inv = inv.reshape(-1)
                cnt = np.bincount(inv)
                tot = np.bincount(inv, weights=live[:, 4]).astype(np.int64)
                for (s, e), c, t in zip(keys.tolist(), cnt.tolist(), tot.tolist()):
                    acc = kept[kind].setdefault((s, e), [0, 0])
                    acc[0] += c
                    acc[1] += t
        wm = base + span - 10**4 - delay
        emitted = [("dedup", dedup_total)]
        for kind, size in (("tumble", 30 * 10**6), ("hop", 60 * 10**6)):
            for (s, et), (cnt, tot) in kept[kind].items():
                if s + size <= wm:
                    emitted.append((kind, str(s), EVENT_TYPES[et], cnt, tot))
        expected.append(digest(emitted))
    return specs, expected


def _planted_digest(planted):
    """Expected q_dedup_minhash result: exactly the planted pairs, with
    their exact Jaccard rounded half-up at 6 dp."""
    return digest([(a, b, float(decimal.Decimal(j).quantize(_Q6, rounding=decimal.ROUND_HALF_UP)))
                   for a, b, j in planted])


def build(workload, seed, n_ops, out):
    """Write the inputs of one (workload, seed) into `out` and return
    (ops, expected): the op list the JVM runs, and the expected digest of
    each op where it is known before the run (the rest come from the
    engine's own DuckDB oracle SQL after each run, see `expect_oracle`)."""
    rng = np.random.default_rng([seed, ["point_sql", "olap_scan", "text_vector",
                                        "stream_ingest"].index(workload)])
    if workload == "point_sql":
        star_schema(out, rng, SF001, 1)
        corpus(out, rng, 50, 0.1, 50)
        pairs = _point_ops(rng, n_ops, SF001)
        con = duck(out)
        return [p for p, _ in pairs], [digest(con.execute(dk).fetchall()) for _, dk in pairs]
    if workload == "olap_scan":
        star_schema(out, rng, OLAP, 4)
        planted, _ = corpus(out, rng, OLAP_DOCS, OLAP_DUP_RATE, OLAP_VECS)
        batches, batch_expected = _stream(out, rng, -(-n_ops // len(OLAP_ROTATION)), OLAP_BATCH)
        rows = {q: sum(_table_rows(OLAP)[t] for t in ts) for q, ts in OLAP_TABLES.items()}
        rows.update(q_dedup_minhash=OLAP_DOCS, q_ann_topk=OLAP_VECS)
        ops, expected = [], []
        for i in range(n_ops):
            r, q = divmod(i, len(OLAP_ROTATION))
            q = OLAP_ROTATION[q]
            if q == "batch":
                ops.append(batches[r])
                expected.append(batch_expected[r])
            else:
                ops.append({"query": q, "rows": rows[q]})
                expected.append(_planted_digest(planted) if q == "q_dedup_minhash" else None)
        return ops, expected
    if workload == "text_vector":
        star_schema(out, rng, TINY, 1)
        planted, texts = corpus(out, rng, TEXT_DOCS, TEXT_DUP_RATE, TEXT_VECS)
        known = {
            "q_dedup_minhash": _planted_digest(planted),
            "q_simhash": digest([(i, str(simhash64(texts[i].split(" "))))
                                 for i in range(16)])}
        rows = {"q_dedup_minhash": TEXT_DOCS, "q_simhash": TEXT_DOCS,
                "q_text_analysis": TEXT_DOCS, "q_ann_topk": TEXT_VECS}
        names = [TEXT_QUERIES[i % len(TEXT_QUERIES)] for i in range(n_ops)]
        return ([{"query": q, "rows": rows[q]} for q in names],
                [known.get(q) for q in names])
    if workload == "stream_ingest":
        return _stream(out, rng, n_ops)
    raise ValueError(workload)


def expect_oracle(out, ops, expected, oracle):
    """Fill the expected digests of query ops from the engine's DuckDB
    oracle SQL (`SparkEntry.oracleSql`, as the measured engine reports it).
    Each digest is computed once per query text and cached in
    `out/oracle.json` under a SHA-256 of the SQL, so an engine whose oracle
    SQL differs never reuses another engine's digest."""
    path = os.path.join(out, "oracle.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    con, filled = None, list(expected)
    for k, op in enumerate(ops):
        q = op.get("query")
        if filled[k] is None and q in oracle:
            key = hashlib.sha256(oracle[q].encode("utf-8")).hexdigest()
            if key not in cache:
                con = con or duck(out)
                cache[key] = digest(con.execute(oracle[q]).fetchall())
            filled[k] = cache[key]
    with open(path, "w") as f:
        json.dump(cache, f)
    return filled
