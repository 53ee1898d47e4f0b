"""Seeded fixture generator for the benchmark.

Writes the ten star-schema + telemetry tables the engine reads
(``region nation customer supplier part orders lineitem events documents
embeddings``) as one parquet file each, with the schemas, value formats
and distribution shapes of the sf0.1 test tables.  ``scale`` is relative
to sf0.1: scale 1 gives the sf0.1 row counts, scale 0.1 the sf0.01 ones.
The same ``(seed, scale)`` gives byte-identical tables; the output is
cached under one directory per ``(seed, scale)``.

Adapted from the repository's sf1 generator (``tools/r11_gen_sf1.py``),
with the seed and scale as arguments and the per-row Python loops
replaced by NumPy so that a fresh seed costs about a second.
"""
from __future__ import annotations

import hashlib
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Column names and Arrow types of the sf0.1 tables; every generated
#: table is checked against this before the cache entry is published.
SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int32"), ("n_name", "string"),
        ("n_regionkey", "int32"),
    ],
    "customer": [
        ("c_custkey", "int64"), ("c_name", "string"),
        ("c_nationkey", "int32"), ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "int64"), ("s_name", "string"),
        ("s_nationkey", "int32"), ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int32"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "int64"), ("o_custkey", "int64"),
        ("o_orderstatus", "string"), ("o_totalprice", "double"),
        ("o_orderdate", "timestamp[us]"), ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "int64"), ("l_partkey", "int64"),
        ("l_suppkey", "int64"), ("l_linenumber", "int32"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp[us]"),
    ],
    "events": [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64"),
    ],
    "embeddings": [
        ("vec_id", "int64"), ("embedding", "list<element: float>"),
        ("label", "int32"),
    ],
}

VOCAB = (
    "spark line column order small sort fast value scan batch part "
    "query agg table hash key group filter stream customer slow vector "
    "join shuffle cache disk read write plan stage task"
).split()
MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
PNAMES1 = ["large", "hot", "small", "cold", "dim", "light"]
PNAMES2 = ["ring", "bolt", "washer", "spring", "cap", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = (["en"] * 6) + ["zh", "de", "fr", "es"]


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (1.0 = sf0.1).  Embeddings follow the
    test tables' own 4x-per-decade trend (500 at sf0.01, 2000 at sf0.1)
    so the quadratic-candidate families stay affordable as scale grows."""
    def n(base: int) -> int:
        return max(1, round(base * scale))

    return {
        "customer": n(15_000), "supplier": n(1_000), "part": n(20_000),
        "orders": n(150_000), "lineitem": n(600_000), "events": n(100_000),
        "users": n(1_500), "documents": n(5_000),
        "embeddings": max(1, round(2_000 * 4 ** math.log10(scale))),
    }


def _pick(rng: np.random.RandomState, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values)[rng.randint(0, len(values), n)]


def _days(rng: np.random.RandomState, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo)
    span = (np.datetime64(hi) - lo_d).astype(int)
    return lo_d + rng.randint(0, span + 1, n).astype("timedelta64[D]")


def line_numbers(order_keys: np.ndarray) -> np.ndarray:
    """1-based position of each line within its order, for sorted keys."""
    idx = np.arange(len(order_keys))
    starts = np.ones(len(order_keys), bool)
    starts[1:] = order_keys[1:] != order_keys[:-1]
    run_start = np.maximum.accumulate(np.where(starts, idx, 0))
    return (idx - run_start + 1).astype(np.int32)


#: First day of the events window.
EVENTS_FROM = "2024-01-01"


def events_table(
    rng: np.random.RandomState,
    n: int,
    users: int,
    first_day: str,
    days: int,
    first_id: int = 0,
) -> pa.Table:
    """``n`` events spread over ``days`` days from ``first_day``, sorted
    by ts, with sequential event ids from ``first_id``."""
    epoch_us = np.datetime64(first_day, "us").astype(np.int64)
    ts_us = np.sort(
        rng.randint(0, days * 86400 * 1_000_000, n, dtype=np.int64)
    ) + epoch_us
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n)),
        "value": np.round(rng.uniform(0, 560, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n)],
    })


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, scale)``, in memory."""
    rng = np.random.RandomState(seed)
    c = row_counts(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.randint(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": pa.array(_pick(rng, MKTSEG, nc)),
    })
    ns = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.randint(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
    })
    npart = c["part"]
    pname = np.char.add(
        np.char.add(_pick(rng, PNAMES1, npart), " "),
        _pick(rng, PNAMES2, npart),
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(pname),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.randint(1, 26, npart).astype(str))
        ),
        "p_type": pa.array(_pick(rng, PTYPES, npart)),
        "p_size": pa.array(rng.randint(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + 0.1 * np.arange(npart) % 1000, 2),
    })
    no = c["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-01", no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, list("OFP"), no)),
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": pa.array(
            odate.astype("datetime64[us]"), pa.timestamp("us")
        ),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no)),
    })
    nl = c["lineitem"]
    lkey = np.sort(rng.randint(0, no, nl).astype(np.int64))
    ship = odate[lkey] + rng.randint(1, 96, nl).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(line_numbers(lkey), pa.int32()),
        "l_quantity": rng.randint(1, 51, nl).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.randint(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(_pick(rng, list("NAR"), nl)),
        "l_linestatus": pa.array(_pick(rng, list("OF"), nl)),
        "l_shipdate": pa.array(
            ship.astype("datetime64[us]"), pa.timestamp("us")
        ),
    })
    out["events"] = events_table(rng, c["events"], c["users"], EVENTS_FROM, 30)
    # documents: word soup over the vocabulary, 8-100 words each
    nd = c["documents"]
    n_words = rng.randint(8, 101, nd)
    words = np.asarray(VOCAB)[rng.randint(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(_pick(rng, LANGS, nd)),
        "source": pa.array(
            np.char.add("src", rng.randint(0, 20, nd).astype(str))
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = c["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64
        ).cast(pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.randint(0, 10, nv), pa.int32()),
    })
    return out


def schema_of(table: pa.Schema) -> list[tuple[str, str]]:
    """``(name, arrow type)`` pairs, in column order."""
    return [(f.name, str(f.type)) for f in table]


def check_schemas(tables: dict[str, pa.Table]) -> None:
    """Raise if a table is not one of SCHEMAS or its schema differs."""
    for name, t in tables.items():
        if name not in SCHEMAS:
            raise ValueError(f"unknown table {name}")
        got = schema_of(t.schema)
        if got != SCHEMAS[name]:
            raise ValueError(f"{name} schema {got} != {SCHEMAS[name]}")


def fixture_dir(cache_root: str, seed: int, scale: float) -> str:
    """The generated tables for ``(seed, scale)``, generating them into
    ``cache_root`` on first use."""
    out = os.path.join(cache_root, f"seed{seed}_scale{scale:g}")
    if not os.path.isdir(out):
        tables = build_tables(seed, scale)
        check_schemas(tables)
        _publish(out, tables)
    return out


#: The daily-DAG fixture: a fixed event history (seed HISTORY_SEED) for
#: the HISTORY_DAYS days before DAG_DAY, then the seeded events of
#: DAG_DAY itself, the day the benchmark runs.
HISTORY_SEED = 0
HISTORY_DAYS = 28
DAG_DAY = "2024-01-29"


def _daily_events(scale: float) -> tuple[int, int]:
    """(events per day, users) at ``scale``: sf0.1 has 100k events over
    30 days from 1.5k users."""
    c = row_counts(scale)
    return max(1, round(c["events"] / 30)), c["users"]


def dag_history_dir(cache_root: str, scale: float) -> str:
    """Events of the HISTORY_DAYS days before DAG_DAY, the same for
    every seed; the DAG's state up to DAG_DAY is built from them."""
    out = os.path.join(cache_root, f"dag_history_scale{scale:g}")
    if not os.path.isdir(out):
        per_day, users = _daily_events(scale)
        ev = events_table(
            np.random.RandomState(HISTORY_SEED), per_day * HISTORY_DAYS,
            users, EVENTS_FROM, HISTORY_DAYS,
        )
        check_schemas({"events": ev})
        _publish(out, {"events": ev})
    return out


def dag_fixture_dir(cache_root: str, seed: int, scale: float) -> str:
    """The history plus the seeded events of DAG_DAY.  The history rows,
    event ids included, are those of :func:`dag_history_dir`."""
    out = os.path.join(cache_root, f"dag_seed{seed}_scale{scale:g}")
    if not os.path.isdir(out):
        hist = pq.read_table(
            os.path.join(dag_history_dir(cache_root, scale), "events.parquet")
        )
        per_day, users = _daily_events(scale)
        day = events_table(
            np.random.RandomState(seed), per_day, users, DAG_DAY, 1,
            first_id=hist.num_rows,
        )
        ev = pa.concat_tables([hist, day])
        check_schemas({"events": ev})
        _publish(out, {"events": ev})
    return out


def _publish(out: str, tables: dict[str, pa.Table]) -> None:
    """Write ``tables`` as ``<name>.parquet`` under ``out``, published by
    renaming a completed build directory, so a reader never sees a
    partial one."""
    tmp = f"{out}.building.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    publish_dir(tmp, out)


def publish_dir(tmp: str, out: str) -> None:
    """Rename the completed ``tmp`` to ``out``; if another process
    published ``out`` first, keep theirs (same inputs, same content)."""
    try:
        os.replace(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def source_fingerprint(root: str, dirs: tuple[str, ...]) -> str:
    """A short hash of every Python source file under ``dirs`` (relative
    to ``root``): paths and contents, byte for byte.  State the program
    built is cached under it, so a checkout of other code never reuses
    it."""
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, names in os.walk(os.path.join(root, d)):
            subdirs[:] = sorted(subdirs)
            for n in sorted(names):
                if not n.endswith(".py"):
                    continue
                path = os.path.join(base, n)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
                h.update(b"\0")
    return h.hexdigest()[:16]


def input_bytes(sf_dir: str, names: tuple[str, ...] = TABLES) -> int:
    """On-disk bytes of the named tables."""
    return sum(
        os.path.getsize(os.path.join(sf_dir, f"{n}.parquet")) for n in names
    )
