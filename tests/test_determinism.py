"""Partition-count invariance: results must be IDENTICAL under different
shuffle parallelism — the property that makes re-executions, retries,
and backfills exactly-once-equivalent at cluster scale. Catches
order-dependent float accumulation and nondeterministic tie-breaks
(the r4 sf1.0 sweep found exactly such a bug in agg_stddev_variance)."""

import pytest

from impala_spark.queries import SPARK_QUERIES, _PLAN_CACHE

QUERIES = [
    "pricing_summary",          # decimal aggregation
    "agg_stddev_variance",      # float agg (9-sig-digit contract)
    "tpch_q3_shipping_priority",  # join + topn tie-break
    "llm_dedup_exact",          # hash shuffle
    "llm_minhash_lsh",          # multi-stage LSH pipeline
    "analytic_ranking",         # window functions
    "events_retention",         # self-join
    "llm_semantic_dedup",       # cluster join + pairwise cosine verdicts
    "llm_dsir_weights",         # broadcast distributions + float log-ratio
    "llm_cluster_topics",       # windowed top-k with total-order tie-break
]


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_partitioning(spark, sf_dir, name):
    import os

    old = spark.conf.get("spark.sql.shuffle.partitions")
    # the small-query posture would otherwise own the knob we are testing
    os.environ["SPARK_GRAFT_DISABLE_SMALL_POSTURE"] = "1"
    try:
        results = []
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            _PLAN_CACHE.clear()  # force a fresh plan under the new setting
            df = SPARK_QUERIES[name](spark, sf_dir)
            # the width under test must survive the query's own
            # register_tables call, or both arms run alike
            assert (
                df.sparkSession.conf.get("spark.sql.shuffle.partitions") == parts
            )
            results.append(sorted(map(tuple, df.collect())))
        assert results[0] == results[1], f"{name} varies with partition count"
        assert len(results[0]) > 0
    finally:
        os.environ.pop("SPARK_GRAFT_DISABLE_SMALL_POSTURE", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
        _PLAN_CACHE.clear()


def test_small_query_posture_per_family(spark, sf_dir):
    """The registry's posture is per-FAMILY: below TINY_INPUT_BYTES,
    relational statements plan with ONE shuffle partition (no
    RangePartitioner sampling job, Impala's single-node shape) while
    compute-parallel registry ops keep DEFAULT_SHUFFLE_PARTITIONS on
    their own pinned clone, whatever the parent session holds."""
    _PLAN_CACHE.clear()
    # the posture rides each DataFrame's own conf-pinned session (r9:
    # build-time session-global mutation raced interleaved families);
    # the parent session's conf is never touched
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rel_df = SPARK_QUERIES["pricing_summary"](spark, sf_dir)
    assert (
        rel_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"
    )
    par_df = SPARK_QUERIES["llm_dedup_exact"](spark, sf_dir)
    assert (
        par_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "32"
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and the single-partition relational plan executes correctly
    _PLAN_CACHE.clear()
    rows = SPARK_QUERIES["pricing_summary"](spark, sf_dir).collect()
    assert len(rows) == 6
    _PLAN_CACHE.clear()


@pytest.mark.slow
def test_differential_fuzz_seeded_sample(spark, sf_dir):
    """Seeded slice of tools/differential_fuzz.py as a regression guard:
    40 random dialect-common SELECTs through the engine vs DuckDB on the
    same text (plus the strict-analyzer totality leg). The full
    campaigns (2,600 queries across five seeds, r12) live in the tool;
    this pins the generator contract and the engine path stay green."""
    import os
    import random
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import duckdb

    from check import norm_rows
    from differential_fuzz import gen_query

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import translate
    from impala_spark.session import TABLES, register_tables

    register_tables(spark, sf_dir)
    engine = ImpalaEngine(spark, sf_dir=sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rng = random.Random(7)
    for _ in range(40):
        q = gen_query(rng)
        translate(q, strict=True)  # a strict rejection = false positive
        sdf = engine.sql(q)
        sc, sr = norm_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])
        rel = con.execute(q)
        dc, dr = norm_rows([d[0] for d in rel.description], rel.fetchall())
        assert (sc, sr) == (dc, dr), q


@pytest.mark.slow
def test_dml_fuzz_seeded_sample(spark):
    """Seeded slice of tools/dml_fuzz.py as a regression guard: two
    model-verified DML cases (one per layout family) through the engine.
    The larger campaigns live in the tool; this pins the generator
    contract and the write paths stay green."""
    import os
    import random
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from dml_fuzz import run_case

    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    rng = random.Random(1207)
    log: list[str] = []
    for i in range(2):
        assert run_case(spark, eng, rng, 9000 + i, 6, log), log
    # a couple of op kinds can skip (e.g. update_from with no int cols),
    # so pin a floor, not an exact count
    assert len(log) >= 10
