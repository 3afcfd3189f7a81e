"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, stats  # noqa: E402
from perfbench.trace import Span, Tracer, self_times, union_length  # noqa: E402

BENCH_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _catalog_bytes(seed: int) -> dict[str, bytes]:
    out = {}
    for name, table in datagen.catalog_tables(seed, 0.001).items():
        out[name] = repr(table.to_pydict()).encode()
    return out


def test_same_seed_same_catalog_and_order():
    from perfbench.workloads import CATALOG_SHORT, CatalogWorkload, Ctx

    assert _catalog_bytes(7) == _catalog_bytes(7)
    assert _catalog_bytes(7) != _catalog_bytes(8)
    w = CatalogWorkload(CATALOG_SHORT, sf=0.1, n_docs=500)
    order = lambda seed, p: [o.label for o in w.ops(Ctx(None, None, "", seed), p)]  # noqa: E731
    assert order(7, 2) == order(7, 2)
    assert sorted(order(7, 2)) == sorted(CATALOG_SHORT)
    assert order(7, 2) != order(8, 2)


def test_same_seed_same_runner_inputs(tmp_path):
    def files(seed, d):
        inputs = datagen.write_etl_inputs(seed, str(tmp_path / d), 50, 80)
        blobs = {}
        for name, inp in inputs.items():
            for f in sorted(os.listdir(inp.path)):
                with open(os.path.join(inp.path, f), "rb") as fh:
                    blobs[f"{name}/{f}"] = fh.read()
        return blobs, {k: (v.rows, v.dropped, v.corrupt, v.bad_email) for k, v in inputs.items()}

    a, b, c = files(3, "a"), files(3, "b"), files(4, "c")
    assert a == b
    assert a[0] != c[0]
    counts = a[1]
    assert counts["json_corrupt"][2] > 0 and counts["json_bad_email"][3] > 0
    assert all(v[1] > 0 for v in counts.values())


def test_same_seed_same_stream_batches():
    a = datagen.stream_inputs(5, 4, 3, 30)
    assert a == datagen.stream_inputs(5, 4, 3, 30)
    assert a != datagen.stream_inputs(6, 4, 3, 30)
    _, batches = a
    for m, n in (("agg_view", 4), ("scd2", 3)):
        ids = [(b.batch_id, b.replay) for b in batches if b.maintainer == m]
        assert [i for i, r in ids if not r] == list(range(n))
        replay = [k for k, (_, r) in enumerate(ids) if r]
        assert len(replay) == 1  # the op mix is the same for every seed
        assert ids[replay[0]][0] in [i for i, _ in ids[: replay[0]]]  # replays an earlier batch


@pytest.mark.parametrize(
    "n, pct",
    [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    value, got, count = stats.tail(values)
    assert (got, count) == (pct, n)
    if n >= 20:
        assert sum(v > value for v in values) >= 10
        higher = [p for p in stats.TAIL_GRID if p > pct]
        assert all(stats.samples_beyond(n, p) < 10 for p in higher)


def test_percentile_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0, "g0"),
        Span("runner", 1.0, 9.0, 0, 0, "g1"),
        Span("sources", 2.0, 3.0, 1, 0, "g2"),
        Span("sinks", 4.0, 8.0, 1, 0, "g3"),
        Span("statestore.commit", 5.0, 6.0, 3, 0, "g4"),
    ]
    assert self_times(spans) == [2.0, 3.0, 1.0, 3.0, 1.0]
    assert sum(self_times(spans)) == spans[0].end - spans[0].start


def test_tracer_nests_spans_and_restores_patches():
    class Box:
        @staticmethod
        def parse(x):
            return x + 1

        def run(self, x):
            return Box.parse(x) * 2

    run = Box.run
    tracer = Tracer()
    tracer.enabled = True
    tracer.patch(Box, "parse", "config")
    tracer.patch(Box, "run", "runner")
    tracer.op = 0
    with tracer.span("op"):
        assert Box().run(1) == 4
    tracer.unpatch()
    assert [(s.name, s.parent) for s in tracer.spans] == [("op", None), ("runner", 0), ("config", 1)]
    assert isinstance(Box.__dict__["parse"], staticmethod)
    assert Box.run is run


def test_metric_names_are_valid():
    from perfbench.layers import PER_LAYER

    pattern = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    with open(BENCH_JSON) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    assert all(pattern.match(n) for n in names), [n for n in names if not pattern.match(n)]
    assert len(names) == len(set(names))
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert all(pattern.match(n) for n in PER_LAYER)


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx((11.5 - 8.5) / 10.0)


def test_stop_processes_ends_children_and_orphans():
    """A run leaves nothing behind: its children, and the grandchildren
    orphaned when their parent exited, are all ended and reaped."""
    import subprocess
    import textwrap

    script = textwrap.dedent("""
        import subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        from perfbench import run
        run.become_subreaper()
        child = subprocess.Popen(["sleep", "60"])
        orphan = int(subprocess.check_output(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"]))
        time.sleep(0.2)
        run.stop_processes(grace_s=5.0)
        print(child.pid, orphan)
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script, root], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    for pid in map(int, out.stdout.split()):
        assert not os.path.exists(f"/proc/{pid}"), pid
