"""``dashboard_queries``: registered analytics queries over a seeded
star schema, and the composed corpus job over a seeded corpus, one
closed-loop client.

Why: at this scale every query is MB-sized, so the queries measure the
driver, planning and scheduling floor that sits between a query call and
its result. The corpus job (``run_corpus_e2e``: quality gate, exact and
MinHash-LSH near-duplicate dedup, decontamination, sampling, packing,
BPE) is where the corpus operators do their work. The commit-log store
is not touched.
"""

from __future__ import annotations

import concurrent.futures
import datetime
import math
import os
import random
import time

from perfbench import gen_corpus, gen_tables
from perfbench.harness import Run, catalyst_ms, median

QUERY_NAMES = (
    "daily_totals weekly_trends monthly_trends latest_day_summary "
    "range_summary pricing_summary shipping_priority_q3 "
    "local_supplier_volume_q5 forecast_revenue_q6 volume_shipping_q7 "
    "market_share_q8 profit_by_nation_year_q9 returned_top_customers_q10 "
    "priority_lines_q12 customer_distribution_q13 promo_revenue_q14 "
    "events_sessions_30min events_sliding_7d user_weekly_retention "
    "top3_user_events_dense_rank moving_avg_daily_values "
    "pivot_qty_by_status rollup_status_priority dedup_first_event"
).split()

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

# one operation of a pass, beside the queries
CORPUS_JOB = "run_corpus_e2e"
CORPUS_DOCS = 5_000
# nominal seconds per pass: --seconds 15 times one pass
PASS_SECONDS = 15.0

# the corpus job's observed funnel counters: documents (n_) and
# whitespace tokens (t_) after each stage
FUNNEL = ("n_raw", "t_raw", "n_quality", "n_exact", "n_neardup",
          "n_decontam", "n_sampled", "t_sampled")


def _norm(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, as sorted comparable tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def oracle_results(sf_dir: str, names) -> dict[str, tuple[list[str], list]]:
    """Each query's oracle SQL run in DuckDB over the same parquet files."""
    import duckdb

    from calorista_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            rel = con.sql(ORACLES[name])
            out[name] = ([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def check_corpus_job(shards, metrics: dict, expected: dict) -> list[str]:
    """Check one corpus job: its observed funnel against ``expected``,
    and its shard manifest against its own funnel (the bins hold every
    sampled token); returns the mismatches."""
    got = metrics["funnel"]
    bad = [f"{CORPUS_JOB} {k}: {got.get(k)} != {v}"
           for k, v in expected.items() if got.get(k) != v]
    in_bins = sum(r["bin_tokens"] for r in shards)
    if in_bins != got["t_sampled"] or not shards:
        bad.append(f"{CORPUS_JOB}: {len(shards)} bins hold {in_bins} tokens, "
                   f"{got['t_sampled']} sampled")
    return bad


def run(bench: Run, seconds: int, sf: float = 0.1,
        corpus_docs: int = CORPUS_DOCS) -> dict:
    """Set up and warm up, then time ``max(1, round(seconds /
    PASS_SECONDS))`` passes. A pass runs every query into a noop sink and
    the corpus job once, in an order shuffled by the seed.

    The warm-up runs every query once and the corpus job twice,
    concurrently, and checks the first result of each against its
    oracle."""
    from calorista_spark.cache import cached_rdd_count, release_caches
    from calorista_spark.catalog import read_table
    from calorista_spark.queries import QUERIES
    from calorista_spark.queries.corpus_e2e import run_corpus_e2e

    t_setup = time.perf_counter()
    spark = bench.start_session()
    sf_dir = bench.path("sf")
    with bench.phase("inputs"):
        gen_tables.write_tables(gen_tables.make_tables(bench.seed, sf), sf_dir)
        corpus = gen_corpus.make_corpus(bench.seed, corpus_docs)
        gen_corpus.write_corpus(corpus, sf_dir)
    read_ms = []
    for t in TABLES:
        t0 = time.perf_counter()
        read_table(spark, sf_dir, t)
        read_ms.append((time.perf_counter() - t0) * 1e3)
    with bench.phase("oracle"):
        expected = oracle_results(sf_dir, QUERY_NAMES)
        expected_corpus = gen_corpus.expected_counts(corpus)
    t_warm = time.perf_counter()

    def collected(name: str) -> list[tuple]:
        df = QUERIES[name](spark, sf_dir)
        return _rows(df.columns, df.collect())

    def corpus_warmup():
        return run_corpus_e2e(spark, sf_dir), run_corpus_e2e(spark, sf_dir)

    # The warm-up runs every query once and the corpus job twice, on one
    # thread per core: a first execution is dominated by code generation
    # and JIT compilation, which parallelize. No cache is released until
    # every operation has returned, so none loses a persist it relies on.
    with concurrent.futures.ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        # the longest task first, so that the queries run beside it
        corpus_job = pool.submit(corpus_warmup)
        pending = {name: pool.submit(collected, name) for name in QUERY_NAMES}
    release_caches(spark)
    failed: list[str] = []
    for name, fut in pending.items():
        try:
            got = fut.result()
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            print(f"check {name} failed: {exc!r}"[:400])
            failed.append(name)
            continue
        if got != _rows(*expected[name]):
            print(f"check {name}: result differs from its oracle")
            failed.append(name)
    # the first corpus job is checked against the counts computed from
    # the generated texts; every later one must observe its funnel
    funnel: dict = {}
    try:
        first, second = corpus_job.result()
        bad = check_corpus_job(*first, expected_corpus)
        if not bad:
            funnel = dict(first[1]["funnel"])
            bad = check_corpus_job(*second, funnel)
    except Exception as exc:  # noqa: BLE001 — count it, keep going
        bad = [f"check {CORPUS_JOB} failed: {exc!r}"[:400]]
    if bad:
        print("; ".join(bad[:3]))
        failed.append(CORPUS_JOB)

    rng = random.Random(bench.seed)
    attempted = len(QUERY_NAMES) + 2
    lat, build, cat = [], [], []
    groups: dict[str, dict[str, float]] = {"queries": {}, "operators": {}}

    def one_pass() -> None:
        nonlocal attempted
        order = [*QUERY_NAMES, CORPUS_JOB]
        rng.shuffle(order)
        for name in order:
            attempted += 1
            kind = "operators" if name == CORPUS_JOB else "queries"
            try:
                with bench.op(name, attempted) as group:
                    t0 = time.perf_counter()
                    if kind == "operators":
                        out = run_corpus_e2e(spark, sf_dir)
                    else:
                        df = QUERIES[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — count it, keep going
                print(f"{name} failed: {exc!r}"[:400])
                failed.append(name)
            else:
                if kind == "operators":
                    bad = check_corpus_job(*out, funnel)
                    if bad:
                        print("; ".join(bad[:3]))
                        failed.append(name)
                lat.append(bench.groups[group])
                groups[kind][group] = bench.groups[group]
                if kind == "queries":
                    build.append(t1 - t0)
                    if bench.trace:
                        cat.append(catalyst_ms(df))
            release_caches(spark)

    bench.phases["warmup"] = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup
    for _ in range(max(1, round(seconds / PASS_SECONDS))):
        one_pass()

    layers = {
        "catalog.read_table_ms": sum(read_ms),
        "queries.build_ms": median(build) * 1e3,
        "queries.exec_ms": median(
            [groups["queries"][g] - b for g, b in zip(groups["queries"], build)]
        ) * 1e3,
        "queries.catalyst_ms": median(cat),
    }
    layers.update({f"operators.funnel.{k}": v for k, v in funnel.items()})
    if bench.trace:
        # the same job split at the action, through the registered
        # shard-manifest query: building it runs the eager stage
        # commits and the mixture collect
        attempted += 1
        try:
            with bench.op("corpus_split", attempted):
                t0 = time.perf_counter()
                df = QUERIES["corpus_e2e_shards"](spark, sf_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            bad = check_corpus_job(rows, {"funnel": funnel}, {})
            if bad:
                print("; ".join(bad[:3]))
                failed.append("corpus_split")
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            print(f"corpus_split failed: {exc!r}"[:400])
            failed.append("corpus_split")
        else:
            layers["pipeline.corpus_build_s"] = t1 - t0
            layers["pipeline.corpus_action_s"] = t2 - t1
        release_caches(spark)

    cached_end = cached_rdd_count(spark)
    attempted += 1
    if cached_end:
        failed.append("cached_rdds_end")
    layers["cache.cached_rdds_end"] = cached_end
    return {
        "attempted": attempted,
        "failed": len(failed),
        "setup_s": setup_s,
        "op_p50_ms": median(lat) * 1e3,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "layers": layers,
        "groups": groups,
    }
