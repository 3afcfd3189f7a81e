"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 5 --trace 0

Runs one workload in this process at ``local[4]``: set-up (inputs, JVM and
session, a few warm-up ops), one cold pass with empty caches and fresh sink
and state directories, then warm passes for ``--seconds``. With ``--trace 0`` the
last stdout line is the end-to-end metrics; with ``--trace 1`` the calls
into each layer are wrapped and the last line is the per-layer metrics.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench_state")
OUT = os.path.join(ROOT, ".perfbench_out")
CPUS = 4
HEAP = "2g"


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int:
    """The process's peak RSS since its last reset (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def become_subreaper() -> None:
    """Have orphaned descendants (helpers and Python workers the JVM starts)
    re-parented to this process, so ``stop_processes`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    """This process's children, zombies included."""
    me, out = str(os.getpid()), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(pid))
        except OSError:
            continue
    return out


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the session's JVM and every other process the run started, and
    wait until each has ended. The JVM exits on EOF on its stdin, but only
    after its shutdown hooks, so it outlives this process unless waited for."""
    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            # disconnect first, so Java objects freed later are not sent to a dead JVM
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while pids := child_pids():
        for pid in pids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    os.kill(pid, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def cpu_steal_s() -> float:
    """CPU seconds, summed over CPUs, that the hypervisor gave to other
    guests instead of this machine (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak RSS of each process over a window: the kernel's high-water
    mark, reset when the window opens (``clear_refs`` 5) and read when it
    closes, so no peak falls between samples."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak_each_kb = [0] * len(pids)

    def __enter__(self) -> "PeakRss":
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        return self

    def __exit__(self, *exc) -> None:
        self.peak_each_kb = [_hwm_kb(p) for p in self.pids]

    @property
    def peak_kb(self) -> int:
        return sum(self.peak_each_kb)


def prepare_environment() -> None:
    """Keep every file the run makes inside the checkout's state dir,
    scrubbed here so the cold pass really is cold."""
    shutil.rmtree(STATE, ignore_errors=True)
    for d in ("tmp", "spark-local", "artifacts", "eventlog", "warehouse"):
        os.makedirs(os.path.join(STATE, d))
    os.environ.update(
        SPARK_GRAFT_INDEX_DIR=os.path.join(STATE, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"),
        SPARK_GRAFT_CPUS=str(CPUS),
        # a 2 GiB driver heap (get_spark's default is 8 GiB) holds these
        # inputs; session_conf makes all of it resident from the start
        SPARK_DRIVER_MEMORY=HEAP,
        TMPDIR=os.path.join(STATE, "tmp"),
    )
    os.chdir(STATE)  # derby.log, spark-warehouse and the like land here


def session_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        # The whole heap is committed and touched at start, so G1's heap
        # growth, which moved the JVM's RSS by a fifth or more from run to
        # run, does not move peak_rss_mb; heap pressure shows in GC time.
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={os.path.join(STATE, 'tmp')} "
            f"-Dderby.system.home={STATE} -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(STATE, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
        })
    return conf


def tree_size(path: str, pred=lambda f: True) -> tuple[int, int]:
    """(files, bytes) under ``path`` for file names matching ``pred``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if pred(f):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def is_data_file(name: str) -> bool:
    return not name.startswith(("_", ".")) and not name.endswith(".crc")


class Runner:
    """Drives one workload's passes and records every op."""

    def __init__(self, workload, ctx, trace: bool) -> None:
        self.w, self.ctx, self.trace = workload, ctx, trace
        self.records: list[dict] = []
        # (label, cold?) -> last check verdict
        self.checked: dict[tuple[str, bool], str | None] = {}

    def run_pass(self, pass_no: int, phase: str, check: bool) -> list[dict]:
        w, ctx = self.w, self.ctx
        warmup = phase == "warmup"
        w.begin_pass(ctx, pass_no, warmup)
        traced = self.trace and ctx.tracer.enabled
        if traced:
            w.wrap_pass(ctx)
        ops = w.ops(ctx, pass_no)
        if warmup:
            ops = [op for op in ops if op.label in w.warmup_labels]
        recs = []
        for op in ops:
            w.prepare_op(ctx, op)
            rec = {"pass": pass_no, "phase": phase, "label": op.label, "kind": op.kind, "error": None}
            sink_before = tree_size(w.sink_dir, is_data_file) if traced else None
            retries_before = getattr(w, "retries", 0)
            ctx.tracer.op = len(self.records)
            rec["start"] = time.time()
            t0 = time.perf_counter()
            out = None
            try:
                with ctx.tracer.span("op"):
                    out = w.run_op(ctx, op)
            except Exception as exc:  # noqa: BLE001 — a failing op is recorded, never fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            rec["latency"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if traced:
                rec["counters"] = self._tracker_counters(rec)
                after = tree_size(w.sink_dir, is_data_file)
                rec["retries"] = getattr(w, "retries", 0) - retries_before
                rec["files_written"] = max(0, after[0] - sink_before[0])
                rec["input_bytes"] = w.op_input_bytes(ctx, op)
            key = (op.label, phase == "cold")
            if check and rec["error"] is None and not (w.check_once and key in self.checked):
                t0 = time.perf_counter()
                rec["error"] = w.check_op(ctx, op, out)
                rec["check_s"] = time.perf_counter() - t0
                self.checked[key] = rec["error"]
            rec["error"] = rec["error"] or (self.checked.get(key) if w.check_once else None)
            out = None
            w.after_op(ctx, op)
            recs.append(rec)
            self.records.append(rec)
        ctx.tracer.op = None
        if not warmup:
            for i, err in w.check_pass(ctx, ops).items():
                recs[i]["error"] = recs[i]["error"] or err
            if traced:
                recs[-1]["state"] = tree_size(w.state_root, is_data_file)
        return recs

    def _tracker_counters(self, rec: dict) -> dict:
        from perfbench.sparkstats import tracker_counts

        op_id = len(self.records)
        by_layer: dict[str, list[str]] = {}
        for s in self.ctx.tracer.spans:
            if s.op == op_id:
                by_layer.setdefault(s.name, []).append(s.group)
        sc = self.ctx.spark.sparkContext
        out = {"total": tracker_counts(sc, [g for gs in by_layer.values() for g in gs])}
        for layer, groups in by_layer.items():
            if layer != "op":
                out[layer] = tracker_counts(sc, groups)
        return out

    def set_tracing(self, on: bool) -> None:
        tracer = self.ctx.tracer
        if on and not tracer.enabled:
            for owner, attr, name in self.w.trace_targets(self.ctx):
                tracer.patch(owner, attr, name)
        elif not on:
            tracer.unpatch()
        tracer.enabled = on

    def warm_passes(self, first_pass: int, seconds: float) -> None:
        """Whole warm passes until ``seconds`` have passed, at least the
        workload's minimum. A traced run alternates traced and untraced
        passes, at least two traced and one untraced, so the tracing overhead
        is not confounded with warm-up drift and counters can be compared
        between passes."""
        start, n = time.perf_counter(), 0
        need = 3 if self.trace else self.w.min_warm_passes
        while n < need or time.perf_counter() - start < seconds:
            traced = self.trace and n % 2 == 0
            self.set_tracing(traced)
            self.run_pass(first_pass + n, "warm" if traced or not self.trace else "untraced", check=True)
            n += 1
        self.set_tracing(False)


def end_to_end(records: list[dict], phase: str) -> dict[str, float]:
    from perfbench.stats import percentile, tail

    lat = [r["latency"] for r in records if r["phase"] == phase and r["error"] is None]
    if not lat:
        return {}
    value, pct, n = tail(lat)
    return {
        "ops_per_s": len(lat) / sum(lat),
        "op_p50_s": percentile(lat, 50.0),
        "op_tail_s": value,
        "op_tail_pct": pct,
        "n": n,
    }


def main(argv: list[str] | None = None) -> int:
    become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        return run(argv)
    finally:
        stop_processes()


def run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # process start on the perf_counter clock: /proc gives the interpreter's
    # start-up at tick resolution, perf_counter the rest at full resolution
    t_start = time.perf_counter() - process_age()
    steal_start = cpu_steal_s()

    sys.path.insert(0, ROOT)
    try:
        import universal_aws_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    prepare_environment()
    w = workloads.make(args.workload)
    tracer = Tracer()

    from universal_aws_data_pipeline_spark.session import get_spark

    ctx = workloads.Ctx(spark=None, tracer=tracer, state_dir=STATE, seed=args.seed)
    runner = Runner(w, ctx, trace)
    phases: dict[str, float] = {}  # wall seconds per phase, for the log

    def lap(name: str, since: float) -> float:
        now = time.perf_counter()
        phases[name] = now - since
        return now

    t = time.perf_counter()
    w.make_inputs(ctx)
    t = lap("inputs", t)
    tracer.enabled = trace
    with tracer.span("session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS, extra_conf=session_conf(trace))
    tracer.enabled = False
    t = lap("session", t)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark, tracer.sc = spark, spark.sparkContext
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]  # the JVM: spark-submit execs java
    try:
        w.setup(ctx)
        t = lap("setup", t)
        runner.run_pass(0, "warmup", check=False)
        t = lap("warmup", t)
        setup_s = t - t_start
        w.before_cold(ctx)
        t = lap("before_cold", t)

        # cold pass: empty artifact cache, fresh sink and state dirs
        shutil.rmtree(os.environ["SPARK_GRAFT_INDEX_DIR"], ignore_errors=True)
        runner.set_tracing(trace)
        cold = runner.run_pass(1, "cold", check=True)
        t = lap("cold+checks", t)
        artifacts = (tree_size(os.environ["SPARK_GRAFT_INDEX_DIR"], lambda f: f == "_SUCCESS")[0],
                     tree_size(os.environ["SPARK_GRAFT_INDEX_DIR"])[1])
        with PeakRss(pids) as rss:
            runner.warm_passes(2, args.seconds * (2 if trace else 1))
        t = lap("warm", t)
    finally:
        spark.stop()
    lap("stop", t)

    recs = runner.records
    counted = [r for r in recs if r["phase"] != "warmup"]
    failed = [r for r in counted if r["error"]]
    e2e = end_to_end(recs, "warm")
    cold_pass_s = sum(r["latency"] for r in cold)
    e2e_metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (e2e.get("ops_per_s", 0.0), "1/s"),
        "op_p50_s": (e2e.get("op_p50_s", 0.0), "s"),
        "op_tail_s": (e2e.get("op_tail_s", 0.0), "s"),
        "cold_pass_s": (cold_pass_s, "s"),
        "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
    }
    print(f"workload {args.workload} ({w.scale}), seed {args.seed}, local[{CPUS}], one closed-loop client")
    for name, (value, unit) in e2e_metrics.items():
        print(f"  {name:<12} {value:12.4f} {unit}")
    print("  peak RSS of each process (MB): "
          + ", ".join(f"{n} {kb / 1024:.0f}" for n, kb in zip(("python", "jvm"), rss.peak_each_kb)))
    n_passes = len({r["pass"] for r in recs if r["phase"] == "warm"})
    print(f"  op_tail_s is p{e2e.get('op_tail_pct', 50):g} of {e2e.get('n', 0)} warm ops over {n_passes} passes")
    by_label: dict[str, dict[str, list[float]]] = {}
    for r in recs:
        by_label.setdefault(r["label"], {}).setdefault(r["phase"], []).append(r["latency"])
        if "check_s" in r:
            by_label[r["label"]].setdefault("check", []).append(r["check_s"])
    print(f"  {'op':<34} {'warmup':>8} {'cold':>8} {'check':>8} {'warm p50':>9} {'n warm':>6}")
    for label, ph in by_label.items():
        cells = [f"{ph[k][0]:8.3f}" if k in ph else f"{'-':>8}" for k in ("warmup", "cold", "check")]
        warm_lat = ph.get("warm", [])
        p50 = f"{statistics.median(warm_lat):9.3f}" if warm_lat else f"{'-':>9}"
        print(f"  {label:<34} {' '.join(cells)} {p50} {len(warm_lat):6d}")
    print("  phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    # a run slowed throughout, with steal in the tens of seconds, was slowed by the host
    print(f"  host CPU steal during the run: {cpu_steal_s() - steal_start:.1f} CPU-s")
    print(f"  fail_ratio   {len(failed)}/{len(counted)} = {len(failed) / max(1, len(counted)):.4f}")
    for r in failed:
        print(f"  FAILED {r['phase']} pass {r['pass']} {r['label']}: {r['error']}")

    if trace:
        from perfbench import layers

        per_layer, report = layers.derive(
            recs, tracer.spans, os.path.join(STATE, "eventlog"),
            session_start_s=phases["session"], warmup_s=phases["warmup"], artifacts=artifacts,
            untraced=end_to_end(recs, "untraced"), traced=e2e,
        )
        os.makedirs(OUT, exist_ok=True)
        out_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(out_path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.dump(),
                       "ops": recs, "per_layer": per_layer, "report": report}, fh)
        for line in layers.describe(per_layer, report):
            print(line)
        print(f"  spans and per-op records: {os.path.relpath(out_path, ROOT)}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e_metrics.items()}
    print(json.dumps({"correct": not failed, "attempted": len(counted), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
