"""End-to-end and per-layer metrics from one run's outcome and spans.

Per-layer figures of the medallion workload are per timed daily run (the
mean over the run's daily cycles); those of the catalog workload are per
timed pass. A layer that a workload does not exercise reads 0.
"""

from __future__ import annotations

import math
import statistics

from workloads import FAMILY, STAGES, TABS, ZONES

END_TO_END = {"setup_s": "s", "op_s": "s", "cycle_s": "s"}

_SPAN_COUNTS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("driver_gap_s", "s"),
)
_WRITE = (("s", "s"), ("files", "count"), ("dirs", "count"), ("bytes", "bytes"), ("driver_gap_s", "s"))
_FAMILY = (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("driver_gap_s", "s"))
BI_TABS = [tab for tab, _, _ in TABS] + ["ltv_range"]


def _per_layer_units() -> dict[str, str]:
    m: dict[str, str] = {}
    for st in STAGES:
        for k, u in _SPAN_COUNTS:
            m[f"pipeline.{st}.{k}"] = u
    m["pipeline.daily.wall_s"] = "s"
    m["pipeline.daily.self_s"] = "s"
    for st in STAGES:
        m[f"cold.{st}.wall_s"] = "s"
    for z in ZONES:
        for k, u in _WRITE:
            m[f"sources.write.{z}.{k}"] = u
    m.update({"zone.files_written": "count", "zone.bytes_written": "bytes", "zone.files_total": "count"})
    m.update({"sources.read.calls": "count", "sources.read.s": "s", "sources.read.files_listed": "count"})
    for a in ("insert", "update", "delete"):
        m[f"cdc.{a}_rows"] = "count"
    m.update(
        {
            "incremental.advance_watermark.calls": "count",
            "incremental.advance_watermark.s": "s",
            "state.calls": "count",
            "state.s": "s",
        }
    )
    for tab in BI_TABS:
        m[f"bi.{tab}.ms"] = "ms"
    for fam in ("plans.marts", "operators.graph"):
        for k, u in _FAMILY:
            m[f"{fam}.{k}"] = u
    for q in FAMILY:
        m[f"query.{q}.s"] = "s"
        m[f"query.{q}.stages"] = "count"
    m.update(
        {
            "session.start_s": "s",
            "jvm.gc_s": "s",
            "jvm.peak_rss_mb": "MB",
            "blockmanager.mem_used_mb": "MB",
            "gen.input_s": "s",
            "trace.cycle_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return m


PER_LAYER = _per_layer_units()


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def op_latency(names: list[str], seconds: list[float]) -> float:
    """Geometric mean over operation kinds of each kind's median latency."""
    by_kind: dict[str, list[float]] = {}
    for name, s in zip(names, seconds):
        by_kind.setdefault(name, []).append(s)
    return math.exp(statistics.mean(math.log(statistics.median(v)) for v in by_kind.values()))


def end_to_end(out) -> dict[str, float]:
    return {
        "setup_s": out.setup_s,
        "op_s": op_latency(out.op_names, out.ops_s),
        "cycle_s": _median(out.cycles_s),
    }


def per_layer(records: list[dict], out, jvm: dict, overhead_s: float) -> dict[str, float]:
    by_id = {r["id"]: r for r in records}

    def root(r: dict) -> str:
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        return r["name"]

    roots = {r["id"]: root(r) for r in records}
    m = dict.fromkeys(PER_LAYER, 0.0)

    # medallion: per timed daily run; reads also count the dashboard's
    days = max(1, sum(1 for r in records if r["name"] == "pipeline.daily"))
    daily = [r for r in records if roots[r["id"]] == "pipeline.daily"]
    measured = [r for r in records if roots[r["id"]] == "pipeline.daily" or roots[r["id"]].startswith("bi.")]
    for st in STAGES:
        spans = [r for r in daily if r["name"] == f"pipeline.{st}"]
        for k, _ in _SPAN_COUNTS:
            m[f"pipeline.{st}.{k}"] = sum(r[k] for r in spans) / days
        m[f"cold.{st}.wall_s"] = sum(
            r["wall_s"] for r in records if r["name"] == f"pipeline.{st}" and roots[r["id"]] == "pipeline.cold"
        )
    runs = [r for r in records if r["name"] == "pipeline.daily"]
    m["pipeline.daily.wall_s"] = sum(r["wall_s"] for r in runs) / days
    m["pipeline.daily.self_s"] = sum(r["self_s"] for r in runs) / days
    writes = [r for r in daily if r["name"] == "sources.write"]
    for z in ZONES:
        zw = [r for r in writes if r["zone"] == z]
        m[f"sources.write.{z}.s"] = sum(r["wall_s"] for r in zw) / days
        for k in ("files", "dirs", "bytes", "driver_gap_s"):
            m[f"sources.write.{z}.{k}"] = sum(r[k] for r in zw) / days
    m["zone.files_written"] = sum(r["files"] for r in writes) / days
    m["zone.bytes_written"] = sum(r["bytes"] for r in writes) / days
    m["zone.files_total"] = out.zone_files
    reads = [r for r in measured if r["name"] == "sources.read"]
    m["sources.read.calls"] = len(reads) / days
    m["sources.read.s"] = sum(r["wall_s"] for r in reads) / days
    m["sources.read.files_listed"] = sum(r["files_listed"] for r in reads) / days
    for a, n in out.cdc_rows.items():
        m[f"cdc.{a}_rows"] = n / days
    adv = [r for r in daily if r["name"] == "incremental.advance_watermark"]
    m["incremental.advance_watermark.calls"] = len(adv) / days
    m["incremental.advance_watermark.s"] = sum(r["wall_s"] for r in adv) / days
    # state calls nest (advance reads and writes); count the outermost
    state = [r for r in daily if r["name"] == "state" and by_id.get(r["parent"], {}).get("name") != "state"]
    m["state.calls"] = len(state) / days
    m["state.s"] = sum(r["wall_s"] for r in state) / days
    for tab in BI_TABS:
        m[f"bi.{tab}.ms"] = 1e3 * _median(r["wall_s"] for r in records if r["name"] == f"bi.{tab}")

    # catalog: per timed pass
    passes = max(1, sum(1 for r in records if r["name"] == "catalog.pass"))
    timed = [r for r in records if roots[r["id"]] == "catalog.pass"]
    for fam in ("plans.marts", "operators.graph"):
        build = [r for r in timed if r["name"] == f"{fam}.build"]
        execs = [r for r in timed if r["name"] == f"{fam}.exec"]
        m[f"{fam}.build_s"] = sum(r["wall_s"] for r in build) / passes
        m[f"{fam}.exec_s"] = sum(r["wall_s"] for r in execs) / passes
        for k in ("jobs", "stages", "driver_gap_s"):
            m[f"{fam}.{k}"] = sum(r[k] for r in build + execs) / passes
    for q in FAMILY:
        spans = [r for r in timed if r["name"] == f"query.{q}"]
        m[f"query.{q}.s"] = _median(r["wall_s"] for r in spans)
        m[f"query.{q}.stages"] = _median(r["stages"] for r in spans)

    m["session.start_s"] = jvm["session_s"]
    m["jvm.gc_s"] = jvm["gc_s"]
    m["jvm.peak_rss_mb"] = jvm["peak_rss_mb"]
    m["blockmanager.mem_used_mb"] = jvm["mem_used_mb"]
    m["gen.input_s"] = out.gen_s
    m["trace.cycle_s"] = _median(out.cycles_s)
    m["trace.overhead_s"] = overhead_s
    return m
