#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last line.

    python3 perfbench/run.py --workload dashboard_queries --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout: the library is imported from there.
With ``--trace 0`` the line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, read from Spark's event
log and from timing calls into the library's public functions, plus the
traced run's own end-to-end numbers (``traced.*``), whose difference
from an untraced run is the tracing overhead. ``--seconds`` sets the
fixed amount of work (passes or ticks), never a time limit. See
``perfbench/NOTES.md`` for the workloads and their inputs.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import dashboard, food  # noqa: E402
from perfbench.eventlog import group_stats, read_events  # noqa: E402
from perfbench.harness import Run, median  # noqa: E402

WORKLOADS = {"dashboard_queries": dashboard.run, "food_log_sync": food.run}
# input sizes of the smoke tests' runs
TINY = {
    "dashboard_queries": {"sf": 0.001, "corpus_docs": 300},
    "food_log_sync": {"history_days": 20, "entries_per_day": 5},
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.build_s": "s",
    "session.first_job_s": "s",
    "setup.inputs_s": "s",
    "setup.backfill_s": "s",
    "setup.warmup_s": "s",
    "catalog.read_table_ms": "ms",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.catalyst_ms": "ms",
    "queries.gap_ms": "ms",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.executor_cpu_ms": "ms",
    "queries.gc_ms": "ms",
    "queries.shuffle_bytes": "bytes",
    "pipeline.corpus_build_s": "s",
    "pipeline.corpus_action_s": "s",
    "operators.gap_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    **{f"operators.funnel.{k}": "count" for k in dashboard.FUNNEL},
    "sources.fetch_ms": "ms",
    "commitlog.merge_ms": "ms",
    "commitlog.read_plan_ms": "ms",
    "commitlog.scan_ms": "ms",
    "commitlog.files": "count",
    "commitlog.segments": "count",
    "commitlog.bytes_written": "bytes",
    "commitlog.files_written": "count",
    "commitlog.store_bytes_per_user_byte": "ratio",
    "pipeline.sync_ms": "ms",
    "pipeline.dashboard_ms": "ms",
    "pipeline.section_ms.latest_day": "ms",
    "pipeline.section_ms.daily_range": "ms",
    "pipeline.section_ms.weekly": "ms",
    "pipeline.section_ms.monthly": "ms",
    "cache.cached_rdds_end": "count",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def _event_log_layers(bench, groups: dict) -> dict:
    """queries.* and operators.* from the event log: the median time
    outside any job per operation, and totals over the timed
    operations."""
    stats = group_stats(read_events(str(bench.event_dir)))

    def of(kind: str):
        mine = {g: wall for g, wall in groups.get(kind, {}).items() if g in stats}
        gap_ms = median([wall * 1e3 - stats[g].job_wall_ms for g, wall in mine.items()])
        return gap_ms, lambda field: sum(getattr(stats[g], field) for g in mine)

    q_gap_ms, q = of("queries")
    o_gap_ms, o = of("operators")
    return {
        "queries.gap_ms": q_gap_ms,
        "queries.jobs": q("jobs"),
        "queries.stages": q("stages"),
        "queries.tasks": q("tasks"),
        "queries.executor_cpu_ms": q("executor_cpu_ms"),
        "queries.gc_ms": q("gc_ms"),
        "queries.shuffle_bytes": q("shuffle_read_bytes"),
        "operators.gap_s": o_gap_ms / 1e3,
        "operators.jobs": o("jobs"),
        "operators.stages": o("stages"),
        "operators.tasks": o("tasks"),
        "operators.executor_cpu_s": o("executor_cpu_ms") / 1e3,
        "operators.gc_s": o("gc_ms") / 1e3,
        "operators.shuffle_write_bytes": o("shuffle_write_bytes"),
        "operators.shuffle_read_bytes": o("shuffle_read_bytes"),
        "operators.spill_bytes": o("spill_bytes"),
    }


def collect(workload: str, seed: int, seconds: int, trace: bool, tiny: bool) -> dict:
    """Run one workload in this process and return the result object."""
    bench = Run(workload, seed, trace)
    try:
        out = WORKLOADS[workload](bench, seconds, **(TINY[workload] if tiny else {}))
    finally:
        bench.stop()
    if trace:
        values = dict.fromkeys(PER_LAYER, 0)
        values.update(out["layers"])
        values["session.build_s"] = bench.build_s
        values["session.first_job_s"] = bench.first_job_s
        for name, secs in bench.phases.items():
            if f"setup.{name}_s" in values:
                values[f"setup.{name}_s"] = secs
        if out["groups"]:
            values.update(_event_log_layers(bench, out["groups"]))
        for k in END_TO_END:
            values[f"traced.{k}"] = out[k]
        units = PER_LAYER
    else:
        values, units = out, END_TO_END
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the smoke tests")
    args = ap.parse_args(argv)
    if not (ROOT / "calorista_spark").is_dir():
        print(f"no calorista_spark package under {ROOT}", file=sys.stderr)
        return 2
    res = collect(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.tiny)
    sys.stdout.flush()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
