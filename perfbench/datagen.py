"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run is made here from the
workload seed: the catalog's star-schema tables, the raw files the runner
ingests and the micro-batches fed to the streaming maintainers. The same seed gives byte-identical inputs; a
different seed gives different ones.

The catalog tables follow the shapes and value distributions of the
repository's test data (TESTDATA.md, FIXTURES.md part A): uniform keys,
the same categorical vocabularies, 5% of documents planted as near
duplicates of an earlier document. Row counts scale with ``sf`` the way
the test data does (lineitem ~6,000,000 x sf).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float, n_docs: int | None = None) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``; ``n_docs`` overrides
    the document count (500 at sf0.01 and below, as in the test data)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)
    n_docs = n_docs or max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    out["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    out["customer"] = pa.table(
        {"c_custkey": np.arange(n_cust, dtype=np.int64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
         "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
         "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]}
    )
    out["supplier"] = pa.table(
        {"s_suppkey": np.arange(n_supp, dtype=np.int64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
         "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {"p_partkey": pk,
         "p_name": names[rng.integers(0, len(names), n_part)],
         "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
         "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
         "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
         "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    )
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    out["orders"] = pa.table(
        {"o_orderkey": np.arange(n_ord, dtype=np.int64),
         "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
         "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
         "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
         "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, span_days + 1, n_ord) * _DAY_US),
         "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]}
    )
    out["lineitem"] = pa.table(
        {"l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
         "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
         "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
         "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
         "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
         "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
         "l_discount": rng.integers(0, 11, n_line) / 100.0,
         "l_tax": rng.integers(0, 9, n_line) / 100.0,
         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
         "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, span_days + 95, n_line)) * _DAY_US)}
    )
    ev_start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        {"event_id": np.arange(n_ev, dtype=np.int64),
         "ts": _ts(ev_start + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
         "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
         "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
         "value": np.round(rng.exponential(50.0, n_ev), 2),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    )
    out["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vec = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {"vec_id": np.arange(n_emb, dtype=np.int64),
         "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
         "label": labels.astype(np.int32)}
    )
    return out


def _random_text(rng: np.random.Generator, lo: int = 8, hi: int = 100) -> str:
    return " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(lo, hi)))])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5% are an earlier document plus a ``dup``
    suffix, the near-duplicate shape the dedup queries look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_random_text(rng))
    return pa.table(
        {"doc_id": np.arange(n, dtype=np.int64),
         "text": texts,
         "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
         "source": [f"src{i % 20}" for i in range(n)],
         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    )


def write_catalog(seed: int, sf: float, out_dir: str, n_docs: int | None = None) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, sf, n_docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------- runner inputs

@dataclass(frozen=True)
class EtlInput:
    """One generated raw input and what the generator knows about it."""

    fmt: str  # json | csv | parquet
    path: str
    rows: int  # records written, corrupt lines included
    dropped: int  # records with a null required field
    corrupt: int  # unparseable lines (json only)
    bad_email: int  # well-formed records whose email fails the regex check
    in_bytes: int


_STATES = ["CA", "NY", "TX", "WA", "IL", "MA", "OR", "CO"]


def _share(rng: np.random.Generator, n: int, share: float, taken: set[int] = frozenset()) -> set[int]:
    """A seeded set of max(1, share*n) row positions outside ``taken``
    (none when ``share`` is 0)."""
    if not share:
        return set()
    free = np.array(sorted(set(range(n)) - set(taken)))
    return set(rng.choice(free, max(1, int(n * share)), replace=False).tolist())


def _customer_records(rng: np.random.Generator, n: int, id0: int, null_share: float, bad_email_share: float):
    """FIXTURES.md B1 records: nested address, string timestamps, padded
    names. Returns (records, n_null_required, n_bad_email)."""
    nulls = _share(rng, n, null_share)
    bad = _share(rng, n, bad_email_share, nulls)
    base = np.datetime64("2023-01-01T00:00:00")
    offsets = rng.integers(0, 365 * 86_400, n)
    recs = []
    for i in range(n):
        cid = id0 + i
        created = str(base + np.timedelta64(int(offsets[i]), "s")).replace("T", " ")
        rec = {
            "id": cid,
            "name": f"  Customer {cid}  ",
            "email": f"user{cid}@example.com",
            "address": {"street": f"{cid % 977} Main St", "city": f"City{cid % 53}",
                        "state": _STATES[cid % len(_STATES)], "zipcode": f"{10000 + cid % 89999:05d}"},
            "created_at": created,
            "updated_at": created,
        }
        if i in nulls:
            rec["email" if i % 2 else "name"] = None
        elif i in bad:
            rec["email"] = f"user{cid}-at-example"
        recs.append(rec)
    return recs, len(nulls), len(bad)


def write_etl_inputs(seed: int, out_dir: str, small: int, large: int) -> dict[str, EtlInput]:
    """Raw inputs for the runner: nested JSON (clean, with corrupt lines, and
    with malformed emails) and CSV at the small size, parquet at the large
    size, each with a seeded share of rows missing a required field."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    inputs: dict[str, EtlInput] = {}

    def json_input(name: str, n: int, corrupt_share: float, bad_email_share: float) -> None:
        recs, dropped, bad = _customer_records(rng, n, len(inputs) * 10_000_000, 0.02, bad_email_share)
        lines = [json.dumps(r) for r in recs]
        corrupt_at = _share(rng, n, corrupt_share)
        for pos in sorted(corrupt_at, reverse=True):
            lines.insert(pos, '{"id": 1, "name": "broken')
        corrupt = len(corrupt_at)
        d = os.path.join(out_dir, name)
        os.makedirs(d)
        path = os.path.join(d, "part-0.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        inputs[name] = EtlInput("json", d, n + corrupt, dropped, corrupt, bad, os.path.getsize(path))

    def tabular_input(name: str, fmt: str, n: int) -> None:
        ids = np.arange(n, dtype=np.int64) + len(inputs) * 10_000_000
        nulls = _share(rng, n, 0.02)
        null_mask = np.array([i in nulls for i in range(n)])
        days = rng.integers(0, 365, n)
        cols = {
            "order_id": [None if m else str(i) for i, m in zip(ids.tolist(), null_mask.tolist())],
            "customer_id": rng.integers(0, 5_000, n).astype(str).tolist(),
            "amount": [f"{a:.2f}" for a in rng.uniform(1, 5_000, n)],
            "order_date": [str(np.datetime64("2023-01-01") + np.timedelta64(int(x), "D")) for x in days],
            "note": [f'note, "{w}" {i % 7}' for i, w in zip(range(n), np.array(_WORDS)[rng.integers(0, 30, n)])],
        }
        d = os.path.join(out_dir, name)
        os.makedirs(d)
        table = pa.table(cols)
        if fmt == "csv":
            import pyarrow.csv as pacsv

            path = os.path.join(d, "part-0.csv")
            pacsv.write_csv(table, path)
        else:
            path = os.path.join(d, "part-0.parquet")
            pq.write_table(table, path)
        inputs[name] = EtlInput(fmt, d, n, int(null_mask.sum()), 0, 0, os.path.getsize(path))

    json_input("json_small", small, 0.0, 0.0)
    json_input("json_corrupt", small, 0.01, 0.0)
    json_input("json_bad_email", small, 0.0, 0.01)
    tabular_input("csv_small", "csv", small)
    tabular_input("parquet_large", "parquet", large)
    return inputs


# --------------------------------------------------------- maintainer batches

@dataclass(frozen=True)
class StreamBatch:
    """One micro-batch for one maintainer. ``replay`` marks a batch id that
    was already delivered once (foreachBatch is at-least-once)."""

    maintainer: str  # agg_view | scd2
    batch_id: int
    rows: tuple
    replay: bool


def stream_inputs(seed: int, agg_batches: int, scd2_batches: int, rows_per_batch: int):
    """The SCD2 dimension's starting rows and the seeded micro-batch
    sequence for the agg-view and SCD2 maintainers: their batches
    alternate, and each maintainer gets exactly one replay of one of its
    earlier batches at a seeded later position.

    Returns ``(dim, batches)``."""
    rng = np.random.default_rng([seed, 3])
    n_keys = 200
    dim = tuple((k, f"tier{k % 3}", f"City{k % 11}") for k in range(n_keys))
    groups = [f"g{i}" for i in range(40)]
    live: list[tuple[str, int]] = []  # rows currently in the agg view's input
    order: list[StreamBatch] = []
    for b in range(max(agg_batches, scd2_batches)):
        if b < agg_batches:
            # signed CDC rows: inserts, plus deletes of live rows
            rows = []
            for _ in range(rows_per_batch):
                if live and rng.random() < 0.3:
                    g, m = live.pop(int(rng.integers(0, len(live))))
                    rows.append((g, m, -1))
                else:
                    g, m = groups[int(rng.integers(0, len(groups)))], int(rng.integers(1, 1_000))
                    live.append((g, m))
                    rows.append((g, m, 1))
            order.append(StreamBatch("agg_view", b, tuple(rows), False))
        if b < scd2_batches:
            # attribute updates for a sample of keys, one per key
            keys = rng.choice(n_keys, rows_per_batch // 2, replace=False)
            upd = tuple(
                (int(k), f"tier{int(rng.integers(0, 4))}", f"City{int(rng.integers(0, 11))}", b + 1)
                for k in keys
            )
            order.append(StreamBatch("scd2", b, upd, False))
    for m in ("agg_view", "scd2"):
        firsts = [i for i, x in enumerate(order) if x.maintainer == m and not x.replay]
        src = order[firsts[int(rng.integers(0, len(firsts)))]]
        at = int(rng.integers(order.index(src) + 1, len(order) + 1))
        order.insert(at, StreamBatch(m, src.batch_id, src.rows, True))
    return dim, order
