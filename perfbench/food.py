"""``food_log_sync``: the reference's scheduled sync and its dashboard,
one closed-loop client.

Set-up writes ``history_days`` of seeded day payloads and backfills them
through ``sync``. Each tick then delivers one new day and edits two of the six
days before it; ``sync`` merges the trailing seven-day window into the
commit-log store, and the four dashboard sections are collected from the
snapshot it returns. Writes and reads alternate, so a change that speeds
one and slows the other shows in the tick latency.

Why: the commit-log store (manifest and segment planning, staged write,
publish) and the REST/payload path do the work here; the registered
queries and the corpus operators are idle.
"""

from __future__ import annotations

import collections
import contextlib
import datetime
import math
import os
import random
import time

from perfbench.gen_days import NUTRIENTS, Diary
from perfbench.harness import Run, median

FIRST_DAY = datetime.date(2024, 1, 1)
WINDOW_DAYS = 7
RANGE_DAYS = 28
WARMUP_TICKS = 1
# nominal seconds per tick: --seconds 15 times four ticks
TICK_SECONDS = 3.75


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _totals(rows) -> list[float]:
    return [sum(r[i] for r in rows) for i in range(1, 1 + len(NUTRIENTS))]


def check_sections(out: dict, diary: Diary, start: datetime.date,
                   end: datetime.date) -> list[str]:
    """Compare the collected sections with sums over the generator's
    expected store; returns the mismatches."""
    rows = list(diary.store.values())
    bad: list[str] = []

    def cmp(what, got_row, want_totals, extra=()):
        got = [got_row[f"total_{n}"] for n in NUTRIENTS]
        if not all(_close(g, w) for g, w in zip(got, want_totals)):
            bad.append(f"{what}: {got} != {want_totals}")
        for k, want in extra:
            if got_row[k] != want:
                bad.append(f"{what}.{k}: {got_row[k]} != {want}")

    latest = max(r[0] for r in rows)
    day_rows = [r for r in rows if r[0] == latest]
    got = out["latest_day"]
    if len(got) != 1 or got[0]["date"] != latest:
        bad.append(f"latest_day: {got}")
    else:
        cmp("latest_day", got[0], _totals(day_rows), [("n_entries", len(day_rows))])

    by_day = collections.defaultdict(list)
    for r in rows:
        by_day[r[0]].append(r)
    got = {r["date"]: r for r in out["daily_range"]}
    n_days = (end - start).days + 1
    if len(got) != n_days:
        bad.append(f"daily_range: {len(got)} days != {n_days}")
    for i in range(n_days):
        d = start + datetime.timedelta(days=i)
        want = _totals(by_day[d]) if by_day[d] else [None] * len(NUTRIENTS)
        if d in got:
            cmp(f"daily_range {d}", got[d], want)

    for name, key, extra in (
        ("weekly", lambda d: tuple(d.isocalendar())[:2], ("iso_year", "iso_week")),
        ("monthly", lambda d: d.replace(day=1), ("month_start",)),
    ):
        groups = collections.defaultdict(list)
        for r in rows:
            groups[key(r[0])].append(r)
        got = {tuple(r[k] for k in extra): r for r in out[name]}
        want_keys = {k if isinstance(k, tuple) else (k,) for k in groups}
        if set(got) != want_keys:
            bad.append(f"{name}: groups differ")
            continue
        for k, grp in groups.items():
            gk = k if isinstance(k, tuple) else (k,)
            cmp(f"{name} {gk}", got[gk], _totals(grp),
                [("n_days", len({r[0] for r in grp}))])
    return bad


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


@contextlib.contextmanager
def _timed_methods(cls, names, sink):
    """Record the wall time of each outermost call to ``cls.<name>``."""
    saved = {n: getattr(cls, n) for n in names}
    depth = [0]

    def wrap(name, fn):
        def timed(*args, **kwargs):
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
                if depth[0] == 0:
                    sink[name].append((time.perf_counter() - t0) * 1e3)

        return timed

    for n, fn in saved.items():
        setattr(cls, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(cls, n, fn)


def run(bench: Run, seconds: int, history_days: int = 45,
        entries_per_day: int = 20) -> dict:
    """Set up, run ``WARMUP_TICKS`` untimed ticks, then time
    ``max(1, round(seconds / TICK_SECONDS))`` ticks."""
    from calorista_spark.cache import cached_rdd_count
    from calorista_spark.operators.dedup import exact_dedup
    from calorista_spark.pipeline import food_entries as fe
    from calorista_spark.sources.commitlog import CommitLogStore
    from calorista_spark.sources.payload import normalize_day_payloads
    from calorista_spark.sources.rest import FileFakeSource, fetch_range

    t_setup = time.perf_counter()
    spark = bench.start_session()
    with bench.phase("inputs"):
        diary = Diary(bench.seed, bench.path("days"), FIRST_DAY, entries_per_day)
        for _ in range(history_days):
            diary.add_day()
    source = FileFakeSource(diary.dir)
    store = bench.path("store")
    with bench.phase("backfill"):
        fe.sync(spark, source, store, diary.days[0], diary.days[-1])
    diary.synced(diary.days[0], diary.days[-1])
    rng = random.Random(bench.seed + 1)

    failed = attempted = 0
    layer = collections.defaultdict(list)
    tick_ms, sync_ms, dash_ms = [], [], []

    def tick(i: int, timed: bool) -> None:
        nonlocal failed, attempted
        today = diary.add_day()
        for d in rng.sample(diary.days[-WINDOW_DAYS:-1], 2):
            diary.edit_day(d)
        start = today - datetime.timedelta(days=WINDOW_DAYS - 1)
        lo = today - datetime.timedelta(days=RANGE_DAYS - 1)
        before = _dir_files(store) if bench.trace else {}
        attempted += 1
        try:
            with bench.op("sync", i) as g_sync:
                entries = fe.sync(spark, source, store, start, today)
            diary.synced(start, today)
            if bench.trace and timed:
                new = {p: s for p, s in _dir_files(store).items() if p not in before}
                layer["commitlog.files_written"].append(len(new))
                layer["commitlog.bytes_written"].append(sum(new.values()))
            sections = {
                "latest_day": fe.latest_day_section,
                "daily_range": lambda e: fe.daily_range_section(e, str(lo), str(today)),
                "weekly": fe.weekly_section,
                "monthly": fe.monthly_section,
            }
            out = {}
            with bench.op("dashboard", i) as g_dash:
                for name, section in sections.items():
                    t0 = time.perf_counter()
                    out[name] = section(entries).collect()
                    if timed:
                        layer[f"pipeline.section_ms.{name}"].append(
                            (time.perf_counter() - t0) * 1e3)
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            print(f"tick {i} failed: {exc!r}"[:400])
            failed += 1
            return
        bad = check_sections(out, diary, lo, today)
        if bad:
            print(f"tick {i}: " + "; ".join(bad[:3]))
            failed += 1
        if not timed:
            return
        s, d = bench.groups[g_sync], bench.groups[g_dash]
        sync_ms.append(s * 1e3)
        dash_ms.append(d * 1e3)
        tick_ms.append((s + d) * 1e3)
        if bench.trace:
            with bench.op("fetch", i) as g_fetch:
                raw = fetch_range(spark, source, start, today)
                exact_dedup(
                    normalize_day_payloads(raw.select("payload")),
                    keys=["fingerprint"],
                    keep_order=["date_int", "timestamp", "food_entry_id"],
                ).write.format("noop").mode("overwrite").save()
            with bench.op("scan", i) as g_scan:
                entries.write.format("noop").mode("overwrite").save()
            layer["sources.fetch_ms"].append(bench.groups[g_fetch] * 1e3)
            layer["commitlog.scan_ms"].append(bench.groups[g_scan] * 1e3)

    with bench.phase("warmup"):
        for i in range(WARMUP_TICKS):
            tick(i, timed=False)
    setup_s = time.perf_counter() - t_setup

    n_ticks = max(1, round(seconds / TICK_SECONDS))
    calls = collections.defaultdict(list)
    with (_timed_methods(CommitLogStore, ("merge", "read"), calls)
          if bench.trace else contextlib.nullcontext()):
        for i in range(WARMUP_TICKS, WARMUP_TICKS + n_ticks):
            tick(i, timed=True)

    hist = CommitLogStore(store).history()[0]
    cached_end = cached_rdd_count(spark)
    attempted += 1
    if cached_end:
        failed += 1
    store_bytes = sum(_dir_files(store).values())
    layers = {k: median(v) for k, v in layer.items()}
    layers.update(
        {
            "pipeline.sync_ms": median(sync_ms),
            "pipeline.dashboard_ms": median(dash_ms),
            "commitlog.merge_ms": median(calls["merge"]),
            "commitlog.read_plan_ms": median(calls["read"]),
            "commitlog.files": hist["n_files"],
            "commitlog.segments": hist["n_partitions"] or 0,
            "commitlog.store_bytes_per_user_byte": store_bytes / diary.user_bytes(),
            "cache.cached_rdds_end": cached_end,
        }
    )
    lat = tick_ms or [0.0]
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "op_p50_ms": median(lat),
        "ops_per_s": len(tick_ms) / (sum(tick_ms) / 1e3) if tick_ms else 0.0,
        "layers": layers,
        "groups": {},
    }
