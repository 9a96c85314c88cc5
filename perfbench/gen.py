"""Seeded input catalogs for the benchmark.

The catalog has the ten tables of the repository's TPC-H-like test fixture
(``db_migrator_spark.io.TABLES``) with the same column names, physical
types and value distributions:

- ``region``/``nation`` are fixed-size dimensions;
- ``customer``, ``supplier``, ``part``, ``orders`` and ``lineitem`` follow
  the fixture's key/foreign-key shape and value ranges;
- ``events`` is a 30-day click stream, sorted by time;
- ``documents`` are random texts over a 30-word vocabulary with 5% planted
  near-duplicates (a copy of an earlier text plus the word ``dup``);
- ``embeddings`` are 64-dimensional unit vectors with a class label.

``scale`` is relative to the fixture's sf0.1 sizes (1.0 = 600k lineitem
rows). Everything comes from ``--seed``: values, a row permutation of every
table, and per-seed key offsets, so two seeds give the same schemas and row
counts with different rows. Replication above 1x follows
``tools/make_sf1.py``: whole replicas with FK-consistent key offsets, the
per-replica seed taken from the workload seed rather than a fixed ``42 + r``.

``stage(root, seed, scale)`` writes a catalog under ``root`` in a directory
keyed on seed, scale and a hash of this file, so a stale catalog is never
reused. A partial or failed staging raises and leaves nothing behind.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts at scale 1.0 (the fixture's sf0.1).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = datetime.datetime(1995, 1, 1)
_ORDER_DAYS = (datetime.datetime(2001, 8, 1) - _ORDER_EPOCH).days
_EVENT_EPOCH = datetime.datetime(2024, 1, 1)


def _strings(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(choices).take(pa.array(idx))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch: datetime.datetime, days: np.ndarray) -> pa.Array:
    base = int((epoch - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _permuted(rng: np.random.Generator, tab: pa.Table) -> pa.Table:
    return tab.take(pa.array(rng.permutation(tab.num_rows)))


def _base_catalog(seed: int, scale: float) -> dict[str, pa.Table]:
    """One replica: every table at ``scale`` x the fixture's sf0.1 sizes."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(rows * scale)) for t, rows in BASE_ROWS.items()}
    users = max(1, round(EVENT_USERS * scale))
    # Per-seed key offsets: the same seed always numbers keys the same way.
    off = {k: int(x) for k, x in zip(
        ("cust", "supp", "part", "order", "event", "user", "doc", "vec"),
        rng.integers(0, 1_000_000, 8),
    )}

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })

    ck = off["cust"] + np.arange(n["customer"], dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, ck.size)),
    })

    sk = off["supp"] + np.arange(n["supplier"], dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size),
    })

    pk = off["part"] + np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pk,
        "p_name": _strings(names, rng.integers(0, len(names), pk.size)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, pk.size)),
        "p_type": _strings(PART_TYPES, rng.integers(0, 6, pk.size)),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(pk.size) % 1000) / 10.0, 1),
    })

    ok = off["order"] + np.arange(n["orders"], dtype=np.int64)
    order_day = rng.integers(0, _ORDER_DAYS + 1, ok.size)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.choice(ck, ok.size),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, ok.size)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _days(_ORDER_EPOCH, order_day),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, ok.size)),
    })

    m = n["lineitem"]
    li_order = rng.integers(0, ok.size, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": ok[li_order],
        "l_partkey": rng.choice(pk, m),
        "l_suppkey": rng.choice(sk, m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, m)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, m)),
        "l_shipdate": _days(_ORDER_EPOCH, order_day[li_order] + rng.integers(1, 122, m)),
    })

    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    epoch_us = int((_EVENT_EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    events = pa.table({
        "event_id": off["event"] + np.arange(ne, dtype=np.int64),
        "ts": pa.array(epoch_us + ev_us, pa.timestamp("us")),
        "user_id": off["user"] + rng.integers(0, users, ne),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, ne)),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": _strings([f'{{"k": {i}}}' for i in range(100)], rng.integers(0, 100, ne)),
    })

    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)) for k in lens]
    n_dup = nd // 20
    for i in rng.choice(np.arange(1, nd), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table({
        "doc_id": off["doc"] + np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _strings(LANGS, rng.choice(5, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": off["vec"] + np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    cat = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }
    # events keeps its time order (the fixture's is sorted); everything else
    # is shuffled so row order differs by seed too.
    return {t: tab if t == "events" else _permuted(rng, tab) for t, tab in cat.items()}


def _shift(tab: pa.Table, col: str, off: int) -> pa.Table:
    arr = pa.compute.add(tab[col], pa.scalar(off, tab[col].type))
    return tab.set_column(tab.schema.get_field_index(col), col, arr)


def _key_span(tab: pa.Table, col: str) -> int:
    return int(pa.compute.max(tab[col]).as_py()) + 1


def _rotate(emb: pa.Table, seed: int) -> pa.Table:
    """Seeded orthogonal rotation of every vector (norms preserved)."""
    mat = np.asarray(emb["embedding"].combine_chunks().flatten()).reshape(-1, EMBED_DIM)
    q, r = np.linalg.qr(np.random.default_rng(seed).standard_normal((EMBED_DIM, EMBED_DIM)))
    rot = (mat @ (q * np.sign(np.diag(r))).T).astype(np.float32)
    col = pa.FixedSizeListArray.from_arrays(pa.array(rot.ravel()), EMBED_DIM)
    return emb.set_column(
        emb.schema.get_field_index("embedding"), "embedding", col.cast(pa.list_(pa.float32()))
    )


def _perturb_texts(docs: pa.Table, r: int) -> pa.Table:
    # ~50% of words get a replica suffix, so replicas are not near-dups.
    texts = [
        " ".join(w + f"q{r}" if (zlib.crc32(w.encode()) + r) & 1 else w for w in t.split(" "))
        for t in docs["text"].to_pylist()
    ]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    return docs.set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )


def catalog(seed: int, scale: float) -> dict[str, pa.Table]:
    """The whole catalog in memory. ``scale`` above 1 must be whole."""
    if scale <= 1:
        return _base_catalog(seed, scale)
    if scale != int(scale):
        raise ValueError(f"scale above 1 must be a whole number, got {scale}")
    base = _base_catalog(seed, 1.0)
    spans = {
        col: _key_span(base[t], col)
        for t, col in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                       ("part", "p_partkey"), ("orders", "o_orderkey"),
                       ("events", "event_id"), ("events", "user_id"),
                       ("documents", "doc_id"), ("embeddings", "vec_id"))
    }
    shifts = {
        "customer": {"c_custkey": "c_custkey"},
        "supplier": {"s_suppkey": "s_suppkey"},
        "part": {"p_partkey": "p_partkey"},
        "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
        "lineitem": {"l_orderkey": "o_orderkey", "l_partkey": "p_partkey",
                     "l_suppkey": "s_suppkey"},
        "events": {"event_id": "event_id", "user_id": "user_id"},
        "documents": {"doc_id": "doc_id"},
        "embeddings": {"vec_id": "vec_id"},
    }
    out = {"region": base["region"], "nation": base["nation"]}
    for t, cols in shifts.items():
        parts = [base[t]]
        for r in range(1, int(scale)):
            rep = base[t]
            for col, key in cols.items():
                rep = _shift(rep, col, r * spans[key])
            if t == "documents":
                rep = _perturb_texts(rep, r)
            elif t == "embeddings":
                rep = _rotate(rep, seed * 1_000 + r)
            parts.append(rep)
        out[t] = pa.concat_tables(parts)
    return out


def generator_hash() -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def stage(root: str, seed: int, scale: float, keep: int = 4) -> str:
    """Write the catalog for (seed, scale) under ``root``; return its dir.

    The directory name carries seed, scale and the generator hash, and a
    ``_MANIFEST.json`` written last marks it complete. A directory without a
    matching manifest is rebuilt. At most ``keep`` catalogs stay staged;
    the least recently used are removed.
    """
    key = f"s{seed}_x{scale:g}_{generator_hash()}"
    out = os.path.join(root, key)
    manifest = os.path.join(out, "_MANIFEST.json")
    want = {"seed": seed, "scale": scale, "generator": generator_hash(), "tables": list(TABLES)}
    if os.path.exists(manifest):
        with open(manifest) as fh:
            if json.load(fh) == want:
                os.utime(out)
                return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for t, tab in catalog(seed, scale).items():
            pq.write_table(tab, os.path.join(tmp, f"{t}.parquet"))
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    staged = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in staged[:-keep]:
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    # python3 perfbench/gen.py OUT_ROOT SEED SCALE
    print(stage(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
