"""The benchmark's workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one has returned. A pass runs the workload's seeded op
sequence once. ``run.py`` drives the passes; a workload supplies inputs,
the op sequence, the timed op body and the correctness checks, which run
outside the timed section.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any

import pyarrow.parquet as pq

from perfbench import datagen


@dataclass
class Op:
    label: str  # what the op runs: a query name, an input name, a maintainer
    payload: Any = None
    kind: str = ""  # query, a runner sink kind, a maintainer, or replay
    part: Any = None  # the sub-workload that runs it, in a composite workload


@dataclass
class Ctx:
    """What a workload needs from the run: the session, the tracer, its
    own directories and the seed."""

    spark: Any
    tracer: Any
    state_dir: str
    seed: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.state_dir, *parts)


class Workload:
    """Defaults for the hooks ``run.py`` calls; each workload overrides
    what it needs."""

    scale = ""  # the input size, as printed with the results
    # ops of the warm-up pass, which runs before the clock and pays the
    # JVM's first-use costs (class loading, JIT, first parquet scan)
    warmup_labels: tuple[str, ...] = ()
    # whole warm passes a run makes however short --seconds is
    min_warm_passes = 1
    # True: an op's output is checked on the cold pass and on the first warm
    # pass, which takes the cache-hit paths, and each verdict holds for the
    # later ops of that label and phase (a query is deterministic)
    check_once = False
    sink_dir = state_root = ""

    def make_inputs(self, ctx: Ctx) -> None:
        """Generate input files; runs before the Spark session starts."""

    def setup(self, ctx: Ctx) -> None:
        """Set-up that needs the Spark session."""

    def before_cold(self, ctx: Ctx) -> None:
        """Runs after the warm-up, outside set-up time, before the cold pass."""

    def prepare_op(self, ctx: Ctx, op: Op) -> None:
        """Untimed work before the op's clock starts."""

    def after_op(self, ctx: Ctx, op: Op) -> None:
        """Untimed work after the op's clock stops."""

    def check_op(self, ctx: Ctx, op: Op, out: Any) -> str | None:
        return None

    def check_pass(self, ctx: Ctx, ops: list[Op]) -> dict[int, str]:
        return {}

    def trace_targets(self, ctx: Ctx) -> list[tuple[Any, str, str]]:
        return []

    def wrap_pass(self, ctx: Ctx) -> None:
        """Wrap callables that are made anew each pass (traced run only)."""

    def op_input_bytes(self, ctx: Ctx, op: Op) -> int:
        return 0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------- catalog


# Short queries: warm time at sf0.1 well under 1 s and cold time close to
# warm (BENCH_detail_c8.json), one each of tokenising, JSON extraction, an
# anti-join, a windowed top-N and vector aggregation. Their warm times
# cluster around the pass's median op, which keeps op_p50_s steady (q01,
# whose warm time straddles the cluster's edge, is left out). Each further
# short query costs about 2 s a run in cold, checks and two warm passes, so
# the list stops at five to fit 22 runs of each workload in the run budget.
CATALOG_SHORT = [
    "q08_token_stats",
    "q10_events_json",
    "q22_anti_join",
    "q35_top_suppliers_per_region",
    "q42_embedding_centroids",
]

# Multi-phase queries: one fixed-round loop, one prefix-filter similarity
# join and one consumer of the connected-components label artifact.
CATALOG_MULTIPHASE = [
    "q133_bradley_terry",
    "q110_containment_dedup",
    "q56_semantic_dedup",
]


class CatalogWorkload(Workload):
    """One op = ``QUERIES[name].fn(spark, sf_dir)`` then the ``noop`` write,
    in an order the seed shuffles each pass."""

    def __init__(self, queries: list[str], sf: float, n_docs: int) -> None:
        self.queries = queries
        self.sf, self.n_docs = sf, n_docs
        self.scale = f"generated catalog tables at sf{sf:g} with {n_docs} documents"
        self.check_once = True
        self.warmup_labels = ("q22_anti_join",)
        # one sample per query and pass: with one pass the median op of a
        # run is a single sample of one short query, and op_p50_s spread
        # twice as wide between runs
        self.min_warm_passes = 2

    def make_inputs(self, ctx: Ctx) -> None:
        from universal_aws_data_pipeline_spark.plans import catalog

        self.catalog = catalog
        self.warm_dir = datagen.write_catalog(ctx.seed, 0.001, ctx.path("data", "sf0.001"), self.n_docs)
        self.bench_dir = datagen.write_catalog(ctx.seed, self.sf, ctx.path("data", f"sf{self.sf:g}"), self.n_docs)

    def before_cold(self, ctx: Ctx) -> None:
        # after set-up, so DuckDB does not compete with the JVM start-up
        # and warm-up that setup_s times
        oracles = {q: self.catalog.QUERIES[q].oracle for q in self.queries if self.catalog.QUERIES[q].oracle}
        self.answers = duckdb_answers(oracles, self.bench_dir)

    def ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        names = list(self.queries)
        random.Random(ctx.seed * 1_000 + pass_no).shuffle(names)
        return [Op(n, kind="query") for n in names]

    def begin_pass(self, ctx: Ctx, pass_no: int, warmup: bool) -> None:
        self.data_dir = self.warm_dir if warmup else self.bench_dir

    def run_op(self, ctx: Ctx, op: Op) -> Any:
        df = self.catalog.QUERIES[op.label].fn(ctx.spark, self.data_dir)
        with ctx.tracer.span("spark.action"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def after_op(self, ctx: Ctx, op: Op) -> None:
        # the same between-query hygiene bench.py applies
        ctx.spark.catalog.clearCache()
        gc.collect()

    def check_op(self, ctx: Ctx, op: Op, out: Any) -> str | None:
        """Compare the op's DataFrame with the query's DuckDB oracle (the
        semantics of tests/oracle.py), or require rows when there is none."""
        if op.label not in self.answers:
            return None if out.limit(1).count() > 0 else "no rows"
        return oracle_mismatch(out, self.answers[op.label])

    def trace_targets(self, ctx: Ctx) -> list[tuple[Any, str, str]]:
        return [(self.catalog.QUERIES[q], "fn", "plans") for q in self.queries]


def duckdb_answers(oracles: dict[str, str], data_dir: str) -> dict[str, tuple[list[str], list[tuple]] | str]:
    """Each oracle's (column names, rows) over the files in ``data_dir``,
    or the error DuckDB raised for it."""
    import duckdb

    from tests import oracle

    con = oracle.duckdb_conn(data_dir)
    try:
        out: dict[str, tuple[list[str], list[tuple]] | str] = {}
        for name, sql in oracles.items():
            try:
                res = con.execute(sql)
                out[name] = ([c[0] for c in res.description], res.fetchall())
            except duckdb.Error as exc:
                out[name] = f"oracle failed: {exc}"
        return out
    finally:
        con.close()


def oracle_mismatch(df: Any, answer: tuple[list[str], list[tuple]] | str) -> str | None:
    """Row count, sorted column names and the order-insensitive multiset of
    stringified rows must match DuckDB's answer over the same files, as in
    ``tests.oracle.compare``; the DuckDB side is computed once per run."""
    from tests import oracle

    if isinstance(answer, str):
        return answer
    d_cols, d_rows = answer
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count: spark={len(s_rows)} duckdb={len(d_rows)}"
    sm, dm = oracle._row_multiset(s_cols, s_rows), oracle._row_multiset(d_cols, d_rows)
    if sm != dm:
        return f"values: only_spark={list((sm - dm).items())[:2]} only_duckdb={list((dm - sm).items())[:2]}"
    return None


# ---------------------------------------------------------------- runner

_JSON_SCHEMA = {
    "mapping": {
        "customerId": "id",
        "customerName": "name",
        "customerEmail": "email",
        "customerAddress": {"street": "address.street", "city": "address.city",
                            "state": "address.state", "zip": "address.zipcode"},
        "createdDate": "created_at",
        "lastUpdated": "updated_at",
    },
    "required": ["customerId", "customerName", "customerEmail"],
    "transformations": [
        {"field": "customerName", "type": "trim"},
        {"field": "createdDate", "type": "date", "format": "yyyy-MM-dd HH:mm:ss"},
        {"field": "lastUpdated", "type": "date", "format": "yyyy-MM-dd HH:mm:ss"},
    ],
}
_JSON_CHECKS = [
    {"type": "not_null", "columns": ["customerEmail"]},
    {"type": "unique", "columns": ["customerId"]},
    {"type": "regex", "columns": ["customerEmail"],
     "pattern": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"},
]
_ORDER_SCHEMA = {
    "mapping": {"orderId": "order_id", "customerId": "customer_id", "amount": "amount",
                "orderDate": "order_date", "note": "note"},
    "required": ["orderId"],
    "transformations": [
        {"field": "orderId", "type": "long"},
        {"field": "customerId", "type": "integer"},
        {"field": "amount", "type": "double"},
        {"field": "orderDate", "type": "date", "format": "yyyy-MM-dd"},
        {"field": "note", "type": "regexp_replace", "pattern": ",", "replacement": ";"},
    ],
}
_ORDER_CHECKS = [
    {"type": "unique", "columns": ["orderId"]},
    {"type": "range", "columns": ["amount"], "min_value": 0, "max_value": 10_000},
]

# (input, sink, destination slot, extra destination keys). Slots repeat so
# that the append lands on existing data and the second warehouse load swaps
# out an existing table.
_ETL_PLAN = [
    ("json_small", "warehouse", "W1", {"dist_key": "customerId", "sort_keys": ["customerId"]}),
    ("csv_small", "overwrite", "P1", {"partition_by": ["year", "month"]}),
    ("csv_small", "append", "P1", {"partition_by": ["year", "month"]}),
    ("parquet_large", "manifest", "M1", {"sort_keys": ["orderId"]}),
    ("json_corrupt", "warehouse", "W1", {"max_errors": 50}),
    ("json_bad_email", "warehouse", "W3", {"sort_keys": ["customerId"]}),
]


def _data_rows(path: str) -> int:
    """Rows in the parquet data files under ``path`` (hidden files skipped)."""
    n = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        n += sum(pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
                 for f in files if f.endswith(".parquet"))
    return n


class EtlWorkload(Workload):
    """One op = ``SourceConfig.from_dict(raw)`` then ``PipelineRunner.run``."""

    def __init__(self, small: int, large: int) -> None:
        self.small, self.large = small, large
        self.scale = f"runner inputs of {small} and {large} records"
        self.retries = 0
        # one op per source format and sink, so that the cold pass pays for
        # empty sink dirs, not for first use of the CSV, parquet and manifest
        # code paths (the append runs the overwrite's write_partitioned)
        self.warmup_labels = tuple(f"{inp}->{sink}:{slot}" for inp, sink, slot, _ in _ETL_PLAN[:4]
                                   if sink != "append")

    def make_inputs(self, ctx: Ctx) -> None:
        self.inputs = datagen.write_etl_inputs(ctx.seed, ctx.path("data", "etl"), self.small, self.large)

    def setup(self, ctx: Ctx) -> None:
        from universal_aws_data_pipeline_spark import runner
        from universal_aws_data_pipeline_spark.config import model

        self.runner_mod, self.model = runner, model

        def counting_sleep(seconds: float) -> None:
            self.retries += 1

        fixed = dt.datetime(2024, 1, 1, 12, 0, 0)
        self.runner = runner.PipelineRunner(ctx.spark, clock=lambda: fixed, sleep=counting_sleep)

    def ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        return [Op(f"{inp}->{sink}:{slot}", (i, inp, sink, slot, extra), sink)
                for i, (inp, sink, slot, extra) in enumerate(_ETL_PLAN)]

    def begin_pass(self, ctx: Ctx, pass_no: int, warmup: bool) -> None:
        self.sink_dir = _fresh(ctx.path("sinks", f"pass{pass_no}"))
        self.expected_rows: dict[str, int] = {}

    def raw_config(self, op: Op) -> dict:
        i, inp_name, sink, slot, extra = op.payload
        inp = self.inputs[inp_name]
        is_json = inp.fmt == "json"
        dest = {"path": os.path.join(self.sink_dir, slot), "format": "parquet",
                "mode": "overwrite" if sink != "append" else "append", **extra}
        return {
            "name": f"{inp_name}_{i}",
            "type": "file",
            "data_format": inp.fmt,
            "input_path": inp.path,
            "schema": _JSON_SCHEMA if is_json else _ORDER_SCHEMA,
            "partition_source_column": "createdDate" if is_json else "orderDate",
            "quality_checks": _JSON_CHECKS if is_json else _ORDER_CHECKS,
            "retry": {"attempts": 2, "interval_seconds": 0.01},
            "destination": dest,
        }

    def run_op(self, ctx: Ctx, op: Op) -> Any:
        cfg = self.model.SourceConfig.from_dict(self.raw_config(op))
        if op.kind == "manifest":
            # from_dict does not read ``commit``; the field is set on the
            # parsed destination instead
            cfg.destination.commit = "manifest"
        return self.runner.run(cfg)

    def op_input_bytes(self, ctx: Ctx, op: Op) -> int:
        return self.inputs[op.payload[1]].in_bytes

    def _expect(self, op: Op) -> tuple[str, int, int]:
        """(status, record_count, error_count) the generator implies."""
        _, inp_name, sink, slot, _ = op.payload
        inp = self.inputs[inp_name]
        if inp.bad_email:
            return "failed", -1, 0
        valid = inp.rows - inp.corrupt - inp.dropped
        return "success", valid, inp.corrupt if sink in ("warehouse", "manifest") else 0

    def check_op(self, ctx: Ctx, op: Op, out: Any) -> str | None:
        _, inp_name, sink, slot, _ = op.payload
        status, records, errors = self._expect(op)
        dest = os.path.join(self.sink_dir, slot)
        if out.status != status:
            return f"status {out.status} != {status} ({out.error})"
        if status == "failed":
            if "regex(customerEmail)" not in (out.error or ""):
                return f"failed for another reason: {out.error}"
            return "quality gate wrote its table" if os.path.exists(dest) else None
        if (out.record_count, out.error_count) != (records, errors):
            return f"counts {(out.record_count, out.error_count)} != {(records, errors)}"
        self.expected_rows[slot] = records + (self.expected_rows.get(slot, 0) if sink == "append" else 0)
        if sink == "manifest":
            with open(os.path.join(dest, "_manifest.json")) as fh:
                dest = os.path.join(dest, json.load(fh)["current"])
        got = _data_rows(dest)
        if got != self.expected_rows[slot]:
            return f"table {slot} holds {got} rows, expected {self.expected_rows[slot]}"
        return None

    def trace_targets(self, ctx: Ctx) -> list[tuple[Any, str, str]]:
        r = self.runner_mod
        return [
            (self.model.SourceConfig, "from_dict", "config"),
            (r.PipelineRunner, "run", "runner"),
            (r, "read_source", "sources"),
            (r, "transform_chain", "transform"),
            (r, "enforce_quality_checks", "quality"),
            (r, "write_partitioned", "sinks"),
            (r, "write_warehouse_table", "sinks"),
        ]


# ----------------------------------------------------------- maintainers

_AGG_SCHEMA = "g string, m long, _sign int"
_UPD_SCHEMA = "k long, tier string, city string, eff long"


class StreamWorkload(Workload):
    """One op = one micro-batch handed to a maintainer's batch function."""

    def __init__(self, agg_batches: int, scd2_batches: int, rows_per_batch: int) -> None:
        self.agg_batches, self.scd2_batches, self.rows = agg_batches, scd2_batches, rows_per_batch
        self.warmup_labels = ("agg_view#0", "scd2#0")
        self.scale = f"{agg_batches} agg_view and {scd2_batches} scd2 batches of {rows_per_batch} rows"

    def make_inputs(self, ctx: Ctx) -> None:
        import pyarrow as pa

        self.dim, self.batches = datagen.stream_inputs(ctx.seed, self.agg_batches, self.scd2_batches, self.rows)
        self.base_dim = os.path.join(_fresh(ctx.path("data", "stream")), "dim")
        os.makedirs(self.base_dim)
        pq.write_table(pa.table({
            "k": pa.array([k for k, _, _ in self.dim], pa.int64()),
            "tier": [t for _, t, _ in self.dim],
            "city": [c for _, _, c in self.dim],
            "valid_from": pa.array([0] * len(self.dim), pa.int64()),
            "valid_to": pa.array([None] * len(self.dim), pa.int64()),
            "is_current": [True] * len(self.dim),
        }), os.path.join(self.base_dim, "part-0.parquet"))

    def setup(self, ctx: Ctx) -> None:
        from universal_aws_data_pipeline_spark.operators import incremental, scd, statestore

        self.incremental, self.scd, self.statestore = incremental, scd, statestore

    def ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        return [Op(f"{b.maintainer}#{b.batch_id}{'r' if b.replay else ''}", b,
                   "replay" if b.replay else b.maintainer) for b in self.batches]

    def begin_pass(self, ctx: Ctx, pass_no: int, warmup: bool) -> None:
        root = self.state_root = _fresh(ctx.path("state", f"pass{pass_no}"))
        shutil.copytree(self.base_dim, os.path.join(root, "dim"))
        self.fns = {
            "agg_view": self.incremental.agg_view_stream_fn(os.path.join(root, "aggview"), ["g"], ["m"]),
            "scd2": self.scd.scd2_stream_fn(os.path.join(root, "dim"), "k", ["tier", "city"], "eff"),
        }
        self.pending = None

    def _state(self, maintainer: str) -> dict[str, tuple[int, int]]:
        """Each file of the maintainer's state: (size, mtime in ns)."""
        root = os.path.join(self.state_root, "aggview" if maintainer == "agg_view" else "dim")
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.relpath(os.path.join(dirpath, f), root)] = (st.st_size, st.st_mtime_ns)
        return out

    def prepare_op(self, ctx: Ctx, op: Op) -> None:
        """Build the micro-batch DataFrame before the op's clock starts and,
        for a replay, take a snapshot of the maintainer's state."""
        b = op.payload
        schema = _AGG_SCHEMA if b.maintainer == "agg_view" else _UPD_SCHEMA
        self.pending = ctx.spark.createDataFrame(list(b.rows), schema)
        self.before_replay = self._state(b.maintainer) if b.replay else None

    def run_op(self, ctx: Ctx, op: Op) -> Any:
        b = op.payload
        df, self.pending = self.pending, None
        self.fns[b.maintainer](df, b.batch_id)
        return None

    def check_op(self, ctx: Ctx, op: Op, out: Any) -> str | None:
        """A replayed batch id must leave the maintainer's state untouched:
        the state check after the pass cannot see a replay that rewrote
        the same rows."""
        if op.payload.replay and self._state(op.payload.maintainer) != self.before_replay:
            return "the replayed batch rewrote the state"
        return None

    def check_pass(self, ctx: Ctx, ops: list[Op]) -> dict[int, str]:
        """Check the state after the pass's last batch; a mismatch fails
        every op of that maintainer in the pass."""
        first = [b for b in self.batches if not b.replay]
        errors: dict[str, str] = {}
        # agg view == a pandas group-by over the net signed rows
        import pandas as pd

        signed = pd.DataFrame([r for b in first if b.maintainer == "agg_view" for r in b.rows],
                              columns=["g", "m", "s"])
        signed["m"] *= signed["s"]
        want = signed.groupby("g").agg(n_rows=("s", "sum"), m=("m", "sum"))
        want = {g: (int(r.n_rows), int(r.m)) for g, r in want.iterrows() if r.n_rows > 0}
        view = pq.read_table(os.path.join(self.state_root, "aggview", "view")).to_pandas()
        got = {r.g: (int(r.n_rows), int(r.m)) for r in view.itertuples()}
        if got != want:
            errors["agg_view"] = f"view differs from group-by on {len(set(got.items()) ^ set(want.items()))} groups"
        # scd2: the whole history. Per key, one version per update that
        # changes a tracked attribute, valid from the update's effective
        # date; each closed version is valid to the next one's start and
        # only the last is current.
        history = {k: [(tier, city, 0)] for k, tier, city in self.dim}
        for b in first:
            if b.maintainer == "scd2":
                for k, tier, city, eff in b.rows:
                    if history[k][-1][:2] != (tier, city):
                        history[k].append((tier, city, eff))
        want_rows = {
            k: [(tier, city, start, nxt[2] if nxt else None, nxt is None)
                for (tier, city, start), nxt in zip(vs, vs[1:] + [None])]
            for k, vs in history.items()
        }
        got_rows: dict[int, list[tuple]] = {}
        for r in pq.read_table(os.path.join(self.state_root, "dim")).to_pylist():
            got_rows.setdefault(r["k"], []).append(
                (r["tier"], r["city"], r["valid_from"], r["valid_to"], r["is_current"]))
        bad = [k for k in want_rows.keys() | got_rows.keys()
               if sorted(got_rows.get(k, []), key=lambda v: v[2]) != want_rows.get(k)]
        if bad:
            n_got, n_want = (sum(map(len, d.values())) for d in (got_rows, want_rows))
            errors["scd2"] = (f"history differs on {len(bad)} keys, e.g. key {min(bad)}; "
                              f"{n_got} rows, expected {n_want}")
        return {i: errors[op.payload.maintainer] for i, op in enumerate(ops) if op.payload.maintainer in errors}

    def trace_targets(self, ctx: Ctx) -> list[tuple[Any, str, str]]:
        return [(self.statestore, "commit", "statestore.commit")]

    def wrap_pass(self, ctx: Ctx) -> None:
        """Wrap this pass's maintainer batch functions."""
        for m, fn in self.fns.items():
            self.fns[m] = ctx.tracer.wrap(fn, f"maintainer.{m}")


class PipelineWorkload(Workload):
    """The runner's configs and the maintainers' micro-batches in one op
    sequence: runner ops are spread among the batches by the seed, each
    keeping its own order."""

    def __init__(self, etl: EtlWorkload, stream: StreamWorkload) -> None:
        self.parts = (etl, stream)
        self.etl, self.stream = etl, stream
        self.scale = f"{etl.scale}; {stream.scale}"
        self.warmup_labels = etl.warmup_labels + stream.warmup_labels

    @property
    def retries(self) -> int:
        return self.etl.retries

    @property
    def sink_dir(self) -> str:  # type: ignore[override]
        return self.etl.sink_dir

    @property
    def state_root(self) -> str:  # type: ignore[override]
        return self.stream.state_root

    def make_inputs(self, ctx: Ctx) -> None:
        for part in self.parts:
            part.make_inputs(ctx)

    def setup(self, ctx: Ctx) -> None:
        for part in self.parts:
            part.setup(ctx)

    def ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        queues = [list(part.ops(ctx, pass_no)) for part in self.parts]
        for part, q in zip(self.parts, queues):
            for op in q:
                op.part = part
        rng = random.Random(ctx.seed * 1_000 + pass_no)
        out = []
        while any(queues):
            q = rng.choices([q for q in queues if q], weights=[len(q) for q in queues if q])[0]
            out.append(q.pop(0))
        return out

    def begin_pass(self, ctx: Ctx, pass_no: int, warmup: bool) -> None:
        for part in self.parts:
            part.begin_pass(ctx, pass_no, warmup)

    def prepare_op(self, ctx: Ctx, op: Op) -> None:
        op.part.prepare_op(ctx, op)

    def run_op(self, ctx: Ctx, op: Op) -> Any:
        return op.part.run_op(ctx, op)

    def check_op(self, ctx: Ctx, op: Op, out: Any) -> str | None:
        return op.part.check_op(ctx, op, out)

    def check_pass(self, ctx: Ctx, ops: list[Op]) -> dict[int, str]:
        idx = [i for i, op in enumerate(ops) if op.part is self.stream]
        return {idx[j]: err for j, err in self.stream.check_pass(ctx, [ops[i] for i in idx]).items()}

    def trace_targets(self, ctx: Ctx) -> list[tuple[Any, str, str]]:
        return self.etl.trace_targets(ctx) + self.stream.trace_targets(ctx)

    def wrap_pass(self, ctx: Ctx) -> None:
        self.stream.wrap_pass(ctx)

    def op_input_bytes(self, ctx: Ctx, op: Op) -> int:
        return op.part.op_input_bytes(ctx, op)


def make(name: str) -> Workload:
    if name == "catalog":
        # 150 documents, under a third of the test data's 500: the join and
        # the dedup are quadratic or worse in documents, and at this size
        # the run, their DuckDB oracles included, fits the run budget
        return CatalogWorkload(CATALOG_SHORT + CATALOG_MULTIPHASE, sf=0.01, n_docs=150)
    if name == "pipeline":
        return PipelineWorkload(EtlWorkload(small=1_000, large=10_000),
                                StreamWorkload(agg_batches=2, scd2_batches=2, rows_per_batch=100))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["catalog", "pipeline"]
