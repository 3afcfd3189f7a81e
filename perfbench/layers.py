"""Per-layer metrics derived from a traced run's spans, per-op records and
Spark event log."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.sparkstats import read_event_log
from perfbench.trace import self_times, union_length

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.action_s": "s",
    "spark.driver_only_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stage_share": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.counter_repeat_share": "ratio",
    "artifacts.built": "count",
    "artifacts.bytes_written": "B",
    "artifacts.cold_extra_s": "s",
    "config.parse_s": "s",
    "sources.read_s": "s",
    "sources.jobs": "count",
    "transform.build_s": "s",
    "quality.check_s": "s",
    "quality.jobs": "count",
    "input.scan_bytes_per_input_byte": "ratio",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "runner.other_s": "s",
    "runner.retries": "count",
    "maintainer.agg_view_s": "s",
    "maintainer.scd2_s": "s",
    "maintainer.replay_s": "s",
    "statestore.commit_s": "s",
    "state.bytes": "B",
    "state.files": "count",
    "trace.overhead_op_p50_s": "s",
    "trace.overhead_share": "ratio",
}

# span name -> metric prefix for self time and jobs
_SELF_TIME = {
    "plans": "plans.build_s",
    "spark.action": "spark.action_s",
    "config": "config.parse_s",
    "sources": "sources.read_s",
    "transform": "transform.build_s",
    "quality": "quality.check_s",
    "sinks": "sinks.write_s",
    "runner": "runner.other_s",
    "statestore.commit": "statestore.commit_s",
}
_JOBS = {"plans": "plans.build_jobs", "sources": "sources.jobs", "quality": "quality.jobs", "sinks": "sinks.jobs"}
_EVENT_FIELDS = {
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "spill_bytes": "spark.spill_bytes",
    "executor_run_ms": "spark.executor_run_ms",
    "executor_cpu_ms": "spark.executor_cpu_ms",
    "jvm_gc_ms": "spark.jvm_gc_ms",
}
REPEAT_COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def derive(records, spans, eventlog_dir, *, session_start_s, warmup_s, artifacts,
           untraced, traced) -> tuple[dict[str, tuple[float, str]], dict]:
    """Returns ({metric: (value, unit)}, report) over the traced warm ops."""
    log = read_event_log(eventlog_dir)
    warm = [i for i, r in enumerate(records) if r["phase"] == "warm" and r["error"] is None]
    warm_set = set(warm)
    selfs = self_times(spans)
    layer_self: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(spans, selfs):
        if s.op is not None:
            layer_self[s.op][s.name] += st

    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_start_s
    m["warmup_s"] = warmup_s
    for span_name, metric in _SELF_TIME.items():
        m[metric] = _mean([layer_self[i][span_name] for i in warm])
    for span_name, metric in _JOBS.items():
        m[metric] = _mean([records[i]["counters"].get(span_name, {}).get("jobs", 0) for i in warm])
    for c in ("jobs", "stages", "tasks"):
        m[f"spark.{c}"] = _mean([records[i]["counters"]["total"][c] for i in warm])
    stages = sum(records[i]["counters"]["total"]["stages"] for i in warm)
    single = sum(records[i]["counters"]["total"]["single_task_stages"] for i in warm)
    m["spark.single_task_stage_share"] = single / stages if stages else 0.0

    # event-log counters by op window: one client thread, so every job
    # submitted between an op's start and end belongs to that op
    per_op_events: dict[int, dict[str, float]] = {}
    driver_only = []
    for i, r in enumerate(records):
        if r["phase"] not in ("cold", "warm"):
            continue
        jobs = log.jobs_in(r["start"], r["end"])
        per_op_events[i] = log.totals(log.stages_of(jobs))
        if i in warm_set:
            covered = union_length([(j.submit, j.end) for j in jobs], r["start"], r["end"])
            driver_only.append((r["end"] - r["start"]) - covered)
    m["spark.driver_only_s"] = _mean(driver_only)
    for f, metric in _EVENT_FIELDS.items():
        m[metric] = _mean([per_op_events[i][f] for i in warm])
    in_bytes = sum(records[i].get("input_bytes", 0) for i in warm)
    if in_bytes:
        m["input.scan_bytes_per_input_byte"] = sum(per_op_events[i]["input_bytes"] for i in warm) / in_bytes
        m["sinks.bytes_per_input_byte"] = sum(per_op_events[i]["output_bytes"] for i in warm) / in_bytes
    m["sinks.files_written"] = _mean([records[i].get("files_written", 0) for i in warm])
    m["runner.retries"] = _mean([records[i].get("retries", 0) for i in warm])

    # maintainers: self time per op of that maintainer; replays whole-op
    for kind in ("agg_view", "scd2"):
        m[f"maintainer.{kind}_s"] = _mean([layer_self[i][f"maintainer.{kind}"]
                                           for i in warm if records[i]["kind"] == kind])
    m["maintainer.replay_s"] = _mean([records[i]["latency"] for i in warm if records[i]["kind"] == "replay"])
    state = [records[i]["state"] for i in warm if "state" in records[i]]
    m["state.files"] = _mean([s[0] for s in state])
    m["state.bytes"] = _mean([s[1] for s in state])

    # artifacts: the cold pass builds them, the warm passes reuse them
    m["artifacts.built"], m["artifacts.bytes_written"] = float(artifacts[0]), float(artifacts[1])
    warm_lat: dict[str, list[float]] = defaultdict(list)
    for i in warm:
        warm_lat[records[i]["label"]].append(records[i]["latency"])
    m["artifacts.cold_extra_s"] = sum(
        r["latency"] - statistics.median(warm_lat[r["label"]])
        for r in records if r["phase"] == "cold" and r["error"] is None and warm_lat[r["label"]]
    )

    # which work counters repeat exactly from pass to pass, per op label
    values: dict[tuple[str, str], set] = defaultdict(set)
    seen: dict[str, int] = defaultdict(int)
    for i in warm:
        r = records[i]
        seen[r["label"]] += 1
        for c in REPEAT_COUNTERS:
            v = r["counters"]["total"][c] if c in ("jobs", "stages", "tasks") else per_op_events[i][c]
            values[(r["label"], c)].add(v)
    repeat = {c: [lab for (lab, cc), vs in values.items() if cc == c and seen[lab] > 1 and len(vs) == 1]
              for c in REPEAT_COUNTERS}
    differ = {c: sorted(lab for (lab, cc), vs in values.items() if cc == c and seen[lab] > 1 and len(vs) > 1)
              for c in REPEAT_COUNTERS}
    pairs = sum(len(repeat[c]) + len(differ[c]) for c in REPEAT_COUNTERS)
    m["spark.counter_repeat_share"] = sum(len(v) for v in repeat.values()) / pairs if pairs else 0.0

    if untraced and traced:
        m["trace.overhead_op_p50_s"] = traced["op_p50_s"] - untraced["op_p50_s"]
        m["trace.overhead_share"] = m["trace.overhead_op_p50_s"] / untraced["op_p50_s"]
    report = {
        "counters_differ_between_passes": {c: v for c, v in differ.items() if v},
        "traced": traced,
        "untraced": untraced,
    }
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}, report


def describe(per_layer: dict[str, tuple[float, str]], report: dict) -> list[str]:
    lines = ["per-layer metrics (mean per warm traced op unless the glossary says otherwise):"]
    lines += [f"  {k:<34} {v:16.4f} {u}" for k, (v, u) in per_layer.items()]
    t, u = report["traced"], report["untraced"]
    if t and u:
        lines.append(f"  tracing overhead: op_p50_s {t['op_p50_s']:.4f} traced vs {u['op_p50_s']:.4f} untraced, "
                     f"ops_per_s {t['ops_per_s']:.3f} vs {u['ops_per_s']:.3f}")
    differ = report["counters_differ_between_passes"]
    lines.append("  counters that differ between passes: "
                 + ("; ".join(f"{c}: {', '.join(v)}" for c, v in differ.items()) if differ else "none"))
    return lines
