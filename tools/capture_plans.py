"""Capture explain("formatted") plans into plans/<tag>/.

Registry mode (default) plans registry queries by name:

    python tools/capture_plans.py <outdir> <suffix> [sf_dir] [name ...]
    e.g. python tools/capture_plans.py plans/r12 after /root/testdata/sf0.1 \
             join_fact_fact llm_minhash_lsh

Default names: the bench HEADLINE suite.

Engine mode plans SQL texts the way a user runs them, through
ImpalaEngine.sql() over the tables of sf_dir; each file holds one
statement and names its plan:

    python tools/capture_plans.py --engine <outdir> <suffix> <sf_dir> <file.sql ...>
    e.g. python tools/capture_plans.py --engine plans/pr5 after \
             /root/testdata/sf0.1 plans/pr5/tpch_q3.sql
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from impala_spark.session import get_spark


def _write_plan(df, outdir: str, name: str, suffix: str) -> None:
    # Public API only (ADVICE r12): df.explain prints from Python, so
    # redirecting stdout captures the exact formatted plan without
    # touching _jdf/_jvm internals.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    path = os.path.join(outdir, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({plan.count('Exchange')} exchange mentions)",
          flush=True)


def main() -> None:
    args = sys.argv[1:]
    engine = bool(args) and args[0] == "--engine"
    if engine:
        args = args[1:]
    if len(args) < (4 if engine else 2):
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    outdir, suffix = args[0], args[1]
    sf_dir = args[2] if len(args) > 2 else "/root/testdata/sf0.1"
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    if engine:
        from impala_spark.engine import ImpalaEngine

        eng = ImpalaEngine(spark, sf_dir=sf_dir)
        for path in args[3:]:
            with open(path) as f:
                text = f.read()
            name = os.path.splitext(os.path.basename(path))[0]
            _write_plan(eng.sql(text), outdir, name, suffix)
        return
    from bench import HEADLINE
    from impala_spark.queries import SPARK_QUERIES

    for name in args[3:] or HEADLINE:
        _write_plan(SPARK_QUERIES[name](spark, sf_dir), outdir, name, suffix)


if __name__ == "__main__":
    main()
