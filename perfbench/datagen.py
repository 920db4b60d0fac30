"""Seeded inputs for the benchmark.

Two families, both a pure function of the seed:

- ``write_tables``: the ten batch tables the query catalog reads
  (TPC-H-style star schema, ``events``, ``documents``, ``embeddings``),
  with the column names, types and value domains of the repository's
  testdata at sf0.01. The catalog and its DuckDB oracles read them
  from one directory.
- ``ad_feed``: the real-time ad-click feed of reference requirements
  7-10 (``event_time, event_date, province, city, user_id, ad_id``) as
  a list of files, plus ``reference_state``, a plain-Python model of
  the streaming pipeline's final state tables.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the testdata at sf0.01 (documents and embeddings do
# not scale with sf there either).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
SF = 0.01
NEAR_DUPS = 25  # near-duplicate pairs the dedup queries find in the testdata

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as whole cents / 100, so both engines read the same bits."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _strs(pool, idx: np.ndarray) -> pa.Array:
    return pa.array([pool[i] for i in idx], pa.string())


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _cents(rng, -99999, 999999, n["customer"]),
            "c_mktsegment": _strs(_SEGMENTS, rng.integers(0, 5, n["customer"])),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _cents(rng, -99999, 999999, n["supplier"]),
        }
    )
    keys = np.arange(n["part"])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": _strs(_PART_TYPES, rng.integers(0, 6, n["part"])),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": (90000 + keys % 1000 * 10) / 100.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _strs("FOP", rng.integers(0, 3, n["orders"])),
            "o_totalprice": _cents(rng, 101370, 49997859, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": _strs(_PRIORITIES, rng.integers(0, 5, n["orders"])),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _cents(rng, 90182, 10499788, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _strs("ANR", rng.integers(0, 3, m)),
            "l_linestatus": _strs("FO", rng.integers(0, 2, m)),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, e * 3 // 200, e), pa.int64()),
            "event_type": _strs(_EVENT_TYPES, rng.integers(0, 5, e)),
            "value": np.maximum(np.round(rng.exponential(50.0, e) * 100), 1) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    vecs = rng.standard_normal((n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents. ``NEAR_DUPS`` of them, at seeded places,
    are near-duplicates of an earlier original (a word deleted or
    ``dup`` appended, the two edits found in the testdata), so the dedup
    queries find clusters. Their number is fixed rather than drawn, so
    the dedup work varies little from seed to seed."""
    dup_at = set(rng.choice(np.arange(1, n), NEAR_DUPS, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                del words[int(rng.integers(0, len(words)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _strs(_LANGS, rng.choice(5, n, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(seed: int, out_dir: str) -> str:
    """Write the ten tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- ad-click feed ---------------------------------------------------------

EVENTS_PER_FILE = 510  # 5 s of the reference mock's 51 lines per 500 ms
FILE_SECONDS = 5
N_USERS = 1000
N_ADS = 20
N_PROVINCES = 10
PLANTED_USERS = (9001, 9002, 9003)  # outside the organic id range
PLANTED_CLICKS = 40  # per planted user per file, all on one ad
LATE_SHARE = 0.05  # events stamped one or two files before their file

_MIDNIGHT = dt.datetime(2024, 3, 9, tzinfo=dt.timezone.utc)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def feed_start(n_files: int) -> dt.datetime:
    """Timestamp at which file 0 of an ``n_files`` feed begins."""
    return _MIDNIGHT - dt.timedelta(seconds=FILE_SECONDS * max(3, n_files // 2))


def ad_feed(seed: int, n_files: int, stream: int = 0) -> list[list[tuple]]:
    """``n_files`` files of ``EVENTS_PER_FILE`` ad clicks each, as rows
    ``(event_time, event_date, province, city, user_id, ad_id)``;
    ``stream`` selects an independent feed for the same seed.

    Users and ads are Zipf-skewed. Midnight falls after file
    ``max(3, n_files // 2)``, so a longer feed spans two dates. Each
    planted user clicks one ad ``PLANTED_CLICKS`` times per file, so it
    crosses the 100-clicks-per-day threshold in its third file and is
    dropped from the fourth on. A ``LATE_SHARE`` of events carry the
    timestamp of one or two files earlier."""
    rng = np.random.default_rng([seed, 7, stream])
    t0 = feed_start(n_files)
    user_p, ad_p = _zipf_p(N_USERS, 0.8), _zipf_p(N_ADS, 1.0)
    planted_ads = rng.integers(0, N_ADS, len(PLANTED_USERS))
    organic = EVENTS_PER_FILE - PLANTED_CLICKS * len(PLANTED_USERS)
    files = []
    for f in range(n_files):
        users = np.concatenate(
            [rng.choice(N_USERS, organic, p=user_p), np.repeat(PLANTED_USERS, PLANTED_CLICKS)]
        )
        ads = np.concatenate(
            [rng.choice(N_ADS, organic, p=ad_p), np.repeat(planted_ads, PLANTED_CLICKS)]
        )
        late = rng.random(EVENTS_PER_FILE) < LATE_SHARE
        back = np.where(late, np.minimum(rng.integers(1, 3, EVENTS_PER_FILE), f), 0)
        micros = rng.integers(0, FILE_SECONDS * 10**6, EVENTS_PER_FILE)
        provinces = rng.integers(0, N_PROVINCES, EVENTS_PER_FILE)
        cities = rng.integers(0, N_PROVINCES, EVENTS_PER_FILE)
        order = rng.permutation(EVENTS_PER_FILE)
        rows = []
        for i in order:
            ts = t0 + dt.timedelta(
                seconds=FILE_SECONDS * int(f - back[i]), microseconds=int(micros[i])
            )
            rows.append(
                (ts, ts.date(), str(provinces[i]), str(cities[i]), int(users[i]), int(ads[i]))
            )
        files.append(rows)
    return files


_FEED_SCHEMA = pa.schema(
    [
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("event_date", pa.date32()),
        ("province", pa.string()),
        ("city", pa.string()),
        ("user_id", pa.int64()),
        ("ad_id", pa.int64()),
    ]
)


def write_feed(files: list[list[tuple]], out_dir: str) -> list[str]:
    """One parquet file per feed file, named and mtime-stamped in feed
    order so a file source with one file per trigger reads them in
    order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, rows in enumerate(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        cols = list(zip(*rows))
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, _FEED_SCHEMA)], schema=_FEED_SCHEMA
            ),
            path,
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def reference_state(files: list[list[tuple]], threshold: int) -> dict:
    """The pipeline's final state tables, computed row by row.

    One feed file is one epoch. Every epoch first drops users on the
    blacklist as it stood after the previous epoch, then adds the
    remaining rows to the (date, user, ad) counts; a user whose count
    for any (date, ad) exceeds ``threshold`` joins the blacklist and is
    dropped from the next epoch on. ``top3`` ranks ads per (date,
    province) by clicks, ties broken by ad id; ``trend`` counts clicks
    per (60-minute window sliding by 1 minute, ad), with naive UTC
    window bounds."""
    user_counts: Counter = Counter()
    cumulative: Counter = Counter()
    trend: Counter = Counter()
    blacklist: set[int] = set()
    dropped = 0
    for rows in files:
        kept = [r for r in rows if r[4] not in blacklist]
        dropped += len(rows) - len(kept)
        for ts, day, prov, city, user, ad in kept:
            user_counts[(day, user, ad)] += 1
            cumulative[(day, prov, city, ad)] += 1
            minute = ts.replace(second=0, microsecond=0, tzinfo=None)
            for k in range(60):
                start = minute - dt.timedelta(minutes=k)
                trend[(start, start + dt.timedelta(hours=1), ad)] += 1
        blacklist |= {u for (_, u, _), c in user_counts.items() if c > threshold}
    per_province: Counter = Counter()
    for (day, prov, _, ad), c in cumulative.items():
        per_province[(day, prov, ad)] += c
    ranked = defaultdict(list)
    for (day, prov, ad), c in per_province.items():
        ranked[(day, prov)].append((-c, ad))
    top3 = {
        (day, prov, ad): (-neg, rank)
        for (day, prov), ads in ranked.items()
        for rank, (neg, ad) in enumerate(sorted(ads)[:3], start=1)
    }
    return {
        "user_counts": dict(user_counts),
        "blacklist": blacklist,
        "cumulative": dict(cumulative),
        "top3": top3,
        "trend": dict(trend),
        "dropped": dropped,
    }
