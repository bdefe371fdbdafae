"""The corpus job, on a corpus from the benchmark's generator, agrees with
the DuckDB ``corpus_e2e_funnel`` oracle.

The oracle takes tens of seconds even on a few hundred documents, too
long for every benchmark run. A run checks its first corpus job against
the counts computed from the generated texts and against its own shard
manifest, and every later job against the first (see
``dashboard.check_corpus_job``). This test pins the generator's counts
and the job's observed funnel against DuckDB on a small generated corpus
with exact copies and near-duplicate pairs."""

from __future__ import annotations

from perfbench.dashboard import FUNNEL, check_corpus_job
from perfbench.gen_corpus import expected_counts, make_corpus, write_corpus
from perfbench.harness import Run

# observed counter -> (funnel stage, column) of corpus_e2e_funnel
STAGES = {
    "n_raw": ("raw", "n_units"),
    "t_raw": ("raw", "n_tokens"),
    "n_quality": ("quality", "n_units"),
    "n_exact": ("exact_dedup", "n_units"),
    "n_neardup": ("neardup_dedup", "n_units"),
    "n_decontam": ("decontaminated", "n_units"),
    "n_sampled": ("sampled", "n_units"),
    "t_sampled": ("sampled", "n_tokens"),
}


def test_corpus_job_matches_its_duckdb_oracle():
    import duckdb

    from calorista_spark.cache import release_caches
    from calorista_spark.queries import ORACLES
    from calorista_spark.queries.corpus_e2e import run_corpus_e2e

    bench = Run("corpus_oracle_test", 1, False)
    sf_dir = bench.path("sf")
    table = make_corpus(4, 300)
    write_corpus(table, sf_dir)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        rows = con.sql(ORACLES["corpus_e2e_funnel"]).fetchall()
    finally:
        con.close()
    by_stage = {stage: {"n_units": n, "n_tokens": t} for _, stage, n, t in rows}
    oracle = {k: by_stage[st][col] for k, (st, col) in STAGES.items()}
    assert set(STAGES) == set(FUNNEL)
    # the generated corpus exercises both dedup stages and every later one
    assert (oracle["n_quality"] > oracle["n_exact"] > oracle["n_neardup"]
            > oracle["n_decontam"] > oracle["n_sampled"] > 0)
    expected = expected_counts(table)
    assert expected == {k: oracle[k] for k in expected}

    spark = bench.start_session()
    try:
        shards, metrics = run_corpus_e2e(spark, sf_dir)
        release_caches(spark)
    finally:
        bench.stop()
    assert check_corpus_job(shards, metrics, oracle) == []
    assert len(shards) == by_stage["packed"]["n_units"]
    assert sum(r["bpe_tokens"] for r in shards) == by_stage["bpe_tokens"]["n_tokens"]
