"""Seeded input generators for the benchmark workloads.

Every generator draws from ``rng_for(seed, stream)`` with the run's
``--seed`` and writes only under the directory it is given. The same
seed gives byte-identical files (gzip is written with ``mtime=0``);
``test_perfbench.py`` checks it.

The corpus tables follow the schemas and value distributions of the
library's synthetic test corpus (FIXTURES.md): a TPC-H-like star
schema plus ``events`` and ``documents``/``embeddings``.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data table key value row column query scan filter join agg "
    "group order sort hash merge batch stream window spark vector part "
    "line small big fast slow customer"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream): adding a stream
    never shifts another stream's values."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_corpus(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """The star schema + events + documents + embeddings at scale
    ``sf`` (row counts x10 per sf step, as in the test corpus).
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    n_users = max(15, int(15_000 * sf))
    rows: dict[str, int] = {}

    def put(name: str, table: pa.Table) -> None:
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))

    r = rng_for(seed, "customer")
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(r, SEGMENTS, n_cust),
    }))

    r = rng_for(seed, "orders")
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": _choice(r, PRIORITIES, n_ord),
    }))

    r = rng_for(seed, "lineitem")
    put("lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, 20_000, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, 1_000, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(r.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(r.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": _choice(r, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(r, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * _DAY_US),
    }))

    put("events", events_table(seed, n_events, n_users))

    put("documents", documents_table(seed, n_docs))

    r = rng_for(seed, "embeddings")
    vecs = r.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb, dtype=np.int32)),
    }))
    return rows


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """Events over 30 days of 2024, ``event_id`` in time order."""
    r = rng_for(seed, "events")
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _choice(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents; about 1% exact copies and 3% near
    copies (one word changed) so both dedup stages have work."""
    r = rng_for(seed, "documents")
    vocab = np.asarray(VOCAB, dtype=object)
    lens = r.integers(8, 100, n)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lens]
    for i in r.choice(n, n // 100, replace=False):
        texts[i] = texts[int(r.integers(0, n))]
    for i in r.choice(n, 3 * n // 100, replace=False):
        words = texts[int(r.integers(0, n))].split()
        words[int(r.integers(0, len(words)))] = str(vocab[r.integers(0, len(vocab))])
        texts[i] = " ".join(words)
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[r.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def permuted_copy(src_parquet: str, out_dir: str, seed: int) -> str:
    """Row-permuted copy of one corpus table into ``out_dir`` under
    the same file name; the library's per-corpus caches key on the
    directory, so each copy is a corpus they have not seen."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(src_parquet)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    dst = os.path.join(out_dir, os.path.basename(src_parquet))
    _write(table.take(pa.array(perm)), dst)
    return dst


def write_partitions(
    out_dir: str, seed: int, n_files: int, per_file: int, n_keys: int
) -> dict[str, dict[str, int]]:
    """gzip ND-JSON partition files in the shmr layout
    (``part-NNNNN.json.gz`` + ``part-NNNNN.json.meta``), Zipf-skewed
    keys. Returns the generator's own per-key ``{"n", "sum"}`` over
    every record and ``{"n_kept", "sum_kept"}`` over records with
    ``flag != 0``: the expected answers of the ETL jobs."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "partitions")
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    keys = np.asarray([f"k{i:05d}" for i in range(n_keys)], dtype=object)
    expect: dict[str, dict[str, int]] = {}
    rec_id = 0
    for f in range(n_files):
        k = r.choice(n_keys, per_file, p=p)
        v = r.integers(0, 1000, per_file)
        flag = r.integers(0, 4, per_file)
        path = os.path.join(out_dir, f"part-{f:05d}.json.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", fileobj=raw, mode="wb", mtime=0
        ) as g:
            lines = []
            for j in range(per_file):
                key = keys[k[j]]
                rec = {"id": rec_id, "key": key, "value": int(v[j]), "flag": int(flag[j]),
                       "note": f"r{rec_id:08d}"}
                lines.append(json.dumps(rec, separators=(",", ":")))
                e = expect.setdefault(key, {"n": 0, "sum": 0, "n_kept": 0, "sum_kept": 0})
                e["n"] += 1
                e["sum"] += int(v[j])
                if flag[j]:
                    e["n_kept"] += 1
                    e["sum_kept"] += int(v[j])
                rec_id += 1
            g.write(("\n".join(lines) + "\n").encode())
        with open(os.path.join(out_dir, f"part-{f:05d}.json.meta"), "w") as m:
            json.dump({"n_records": per_file}, m)
    return expect


def split_events(
    events_parquet: str, out_dir: str, n_files: int, seed: int
) -> list[str]:
    """Split the events table into ``n_files`` time-ordered parquet
    files. Rows inside a file are shuffled, so events arrive out of
    order within a file but never across files: no event is older than
    the watermark an earlier trigger set."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_parquet).sort_by("ts")
    r = np.random.default_rng(seed)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        part = part.take(pa.array(r.permutation(part.num_rows)))
        path = os.path.join(out_dir, f"events-{i:03d}.parquet")
        _write(part, path)
        paths.append(path)
    return paths
