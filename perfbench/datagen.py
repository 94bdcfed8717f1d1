"""Seeded benchmark inputs.

The table *content* is a pure function of the scale factor: a fixed
generator draws a TPC-H-like star (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream, a ``documents`` corpus
and an ``embeddings`` table with the same schemas and value domains as
the engine's test data. The ``--seed`` only decides the *layout*: each
table's rows are permuted and dealt across ``FILES_PER_TABLE`` parquet
files, so two seeds give byte-different inputs with identical query
results. The seed also picks which rows seed the JDBC database and how
the document corpus is split into a base half and extend batches
(:func:`derby_rows`, :func:`extend_split`).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261017
FILES_PER_TABLE = 4
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a the row scan slow fast table value part hash merge batch spark line "
    "sort window key agg data column join small customer query big order "
    "group stream filter vector"
).split()


def table_sizes(scale: float) -> dict[str, int]:
    """Row count of every table at ``scale`` (TPC-H ratios)."""
    def n(base: float, floor: int) -> int:
        return max(floor, int(round(base * scale)))

    return {
        "region": 5, "nation": 25,
        "customer": n(150_000, 50), "supplier": n(10_000, 10),
        "part": n(200_000, 50), "orders": n(1_500_000, 200),
        "lineitem": n(6_000_000, 800), "events": n(1_000_000, 200),
        "documents": n(20_000, 40), "embeddings": n(50_000, 40),
    }


def _ts(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.08:
            # exact duplicate of an earlier document (dedup_exact finds it)
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and r < 0.2:
            # near duplicate: an earlier document with a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 15)):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 90))
        texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_content(scale: float) -> dict[str, pd.DataFrame]:
    """The tables at ``scale``; independent of the layout seed."""
    rng = np.random.default_rng(CONTENT_SEED)
    sz = table_sizes(scale)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = sz["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = sz["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = sz["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    no = sz["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _ts(rng, "1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = sz["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng, "1995-01-02", 2498, nl),
    })
    ne = sz["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, nc // 10), ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, sz["documents"])
    nv = sz["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(np.int32),
    })
    return out


def _arrow(name: str, df: pd.DataFrame) -> pa.Table:
    if name == "embeddings":
        schema = pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ])
        return pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    return pa.Table.from_pandas(df, preserve_index=False)


def write_inputs(out_dir: str, seed: int, content: dict[str, pd.DataFrame]) -> None:
    """Write the seeded layout of every table of ``content`` under
    ``out_dir`` as ``<table>.parquet/part-<i>.parquet``."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    for ti, name in enumerate(TABLES):
        df = content[name]
        rng = np.random.default_rng([seed, ti])
        perm = rng.permutation(len(df))
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        for i, chunk in enumerate(np.array_split(perm, FILES_PER_TABLE)):
            part = df.iloc[chunk]
            pq.write_table(_arrow(name, part), os.path.join(tdir, f"part-{i:05d}.parquet"))


def derby_rows(seed: int, sizes: dict[str, int], frac: float) -> dict[str, np.ndarray]:
    """Seeded row positions of lineitem and orders that seed the JDBC
    database (part and customer are loaded whole: they are lookups)."""
    rng = np.random.default_rng([seed, 101])
    return {
        t: np.sort(rng.choice(sizes[t], int(sizes[t] * frac), replace=False))
        for t in ("lineitem", "orders")
    }


def extend_split(seed: int, n_docs: int, n_batches: int) -> tuple[np.ndarray, list[np.ndarray]]:
    """Seeded base half of the corpus and the extend batches covering
    the other half."""
    rng = np.random.default_rng([seed, 202])
    perm = rng.permutation(n_docs)
    half = n_docs // 2
    return np.sort(perm[:half]), [np.sort(b) for b in np.array_split(perm[half:], n_batches)]
