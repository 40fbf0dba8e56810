"""Front-door benchmark: one seeded, single-client, closed-loop workload
through the engine's public entry points, checked against DuckDB.

    python3 perfbench/run.py --workload olap_frontdoor --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see workloads.py):

- ``olap_frontdoor``: analytic SELECTs through ``ImpalaEngine.sql()`` +
  ``DataFrame.toArrow()``, TPC-H-style parameters drawn per pass;
- ``oltp_mixed``: 70% point/small-range reads, 30% INSERT...SELECT /
  UPDATE / DELETE / UPSERT on managed tables made at set-up;
- ``llm_dedup``: the MinHash -> dedup_clusters, embedding near-dup,
  incremental dedup and curation-funnel pipelines over a generated corpus.

Each run is isolated: a fresh warehouse, Spark local dirs and temp dir
under ``.perfbench_scratch/`` (removed at exit), no persistent catalog,
``local[nproc]``. Inputs are generated from ``--seed`` at set-up.

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``): with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` the per-layer metrics. The line before
it is the full report (every end-to-end figure of the workload with its
unit, plus the disclosure fields); it is also written, with the spans and
per-operation layer figures of a traced run, under ``.perfbench_out/``.

A traced run traces exactly the first unit a normal run measures. Its
report still carries end-to-end figures, so the tracing overhead is the
traced run's figures minus an untraced run's with the same seed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description="front-door benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["olap_frontdoor", "oltp_mixed", "llm_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _isolate(scratch: str) -> None:
    """Point every writable location of the program at this run's
    scratch area. Must run before impala_spark is imported (the
    warehouse path is read at import)."""
    for d in ("warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ.update(
        IMPALA_SPARK_WAREHOUSE=os.path.join(scratch, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_PERSIST_CATALOG="0",
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_DRIVER_MEM=_driver_mem(),
        TMPDIR=tmp,
        # keep the JVM off /tmp: its temp files and hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.pop("OMP_NUM_THREADS", None)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "impala_spark", "engine.py")):
        print("perfbench: run from the repository root (impala_spark/ not found)",
              file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_scratch",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    _isolate(scratch)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import Harness
    from report import build_report, check_results

    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    h = Harness(args, scratch, T_START)
    try:
        h.setup()
        h.measure()
        checks = check_results(h)
        report, result = build_report(h, checks)
        if h.tracer is not None:
            tag = f"{args.workload}-{args.seed}"
            h.tracer.dump(os.path.join(out, f"spans-{tag}.jsonl"))
            with open(os.path.join(out, f"ops-{tag}.jsonl"), "w") as f:
                for o in h.ops:
                    f.write(json.dumps({"unit": o.unit, "template": o.template,
                                        "traced": o.traced, "latency": o.latency,
                                        "layers": o.layers}) + "\n")
    finally:
        h.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(out, f"report-{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
