"""Correctness checks against DuckDB and the run's metrics.

Everything here runs after the timed region. Results are compared with
``tools/check.py``'s ``norm_rows`` (order-insensitive, floats to 9
digits), the same normalisation the repository's oracle replica uses.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time

from harness import HERE, ROOT, _dir_files, _load, _rows, summarize, tail_latency

POOLS_NOTE = ("not exercised: one client and no request-pool configuration, "
              "so admission control is off")


def _bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _duck_rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _views(con, d: str) -> None:
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{d}/{f}')")


def same_result(norm_rows, got, expected) -> bool:
    return norm_rows(*got) == norm_rows(*expected)


def check_results(h) -> dict:
    """Mark every operation (warm-up and timed) ok or not against
    DuckDB; returns the facts the report needs from the check."""
    import duckdb

    norm_rows = _load("perfbench_check_py", os.path.join(ROOT, "tools", "check.py")).norm_rows
    con = duckdb.connect()
    out: dict = {"final_state_mismatches": 0, "duck_s": {}}
    ops = h.warm + h.ops

    def judge(op, expected) -> None:
        if op.error is None:
            op.ok = same_result(norm_rows, op.result, expected)

    if h.args.workload == "olap_frontdoor":
        _views(con, h.inputs)
        for op in ops:
            t = time.perf_counter()
            expected = _duck_rows(con, op.duck)
            out["duck_s"].setdefault(op.template, []).append(time.perf_counter() - t)
            judge(op, expected)
    elif h.args.workload == "llm_dedup":
        with open(h.expected, "rb") as f:
            expected = pickle.load(f)  # computed by gen.py from the same inputs
        for name, (_cols, _rows_, secs) in expected.items():
            out["duck_s"][name] = [secs]
        for op in ops:
            judge(op, expected[op.template][:2])
        if h.tracer is not None:
            out["candidate_precision"] = _candidate_precision(h)
    else:
        _views(con, h.inputs)
        changed = []
        for op in h.setup_ops + ops:
            res = _duck_rows(con, op.duck)
            if op.kind == "read":
                judge(op, res)
            elif op.unit >= 0:
                n = res[1][0][0] if res[1] else 0
                changed.append(n)
                op.rows_changed = n
        out["rows_changed"] = sum(changed)
        out["final_state"] = {}
        for t in ("ord_p", "cust_pk"):
            got = h.eng.sql(f"SELECT * FROM {t}").toArrow()
            ok = same_result(norm_rows, _rows(got), _duck_rows(con, f"SELECT * FROM {t}"))
            out["final_state"][t] = ok
            out["final_state_mismatches"] += 0 if ok else 1
        out["once_bytes"] = _written_once_bytes(h)
    con.close()
    return out


def _written_once_bytes(h) -> int:
    """On-disk bytes of the final oltp tables written once, by the same
    Spark session, with the same partitioning."""
    from workloads import OLTP_TABLES

    total = 0
    for t, parts in OLTP_TABLES.items():
        d = os.path.join(h.scratch, "once", t)
        w = h.spark.table(t).write.mode("overwrite")
        (w.partitionBy(*parts) if parts else w).parquet(d)
        total += sum(s for s, _m in _dir_files(d).values())
    return total


def _candidate_precision(h) -> float:
    """Exact MinHash pairs / banded-LSH candidates at the same banding."""
    from impala_spark import llm_ops
    from impala_spark.session import table

    d = table(h.spark, h.sf_dir, "documents")
    exact = llm_ops.minhash_lsh_pairs_exact(d, threshold=0.5).count()
    cand = llm_ops.minhash_lsh_pairs(d, num_hashes=16, bands=8, threshold=0.0).count()
    return exact / cand if cand else 0.0


def _metric(v, unit):
    return {"value": v, "unit": unit}


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(h, checks) -> dict:
    """Every end-to-end figure of this workload, name -> value/unit."""
    ops = h.ops
    lat = [o.latency for o in ops]
    setup_s = (h.t_first - h.t_start) - sum(h.setup_reps) + statistics.median(h.setup_reps)
    m = {
        "setup_s": _metric(setup_s, "s"),
        "ops_per_s": _metric(len(ops) / sum(lat), "1/s"),
        "op_p50_s": _metric(statistics.median(lat), "s"),
        "latency_geomean_s": _metric(statistics.geometric_mean(
            statistics.median(o.latency for o in ops if o.template == t)
            for t in {o.template for o in ops}), "s"),
        "cpu_s_per_op": _metric(sum(o.cpu_s for o in ops) / len(ops), "s"),
        "error_rate": _metric(summarize(ops, checks["final_state_mismatches"])["error_rate"],
                              "ratio"),
        "peak_rss_mb": _metric(h.peak_rss_mb, "MB"),
        "heap_live_mb": _metric(h.heap_live_mb, "MB"),
    }
    for kind in ("read", "write"):
        xs = [o.latency for o in ops if o.kind == kind]
        if xs:
            m[f"{kind}_p50_s"] = _metric(statistics.median(xs), "s")
            tail, pct = tail_latency(xs)
            if tail is not None and pct >= 50:
                m[f"{kind}_tail_s"] = dict(_metric(tail, "s"), percentile=pct)
    pipes = [o.latency for o in ops if o.kind == "pipeline"]
    if pipes:
        m["pipeline_p50_s"] = _metric(statistics.median(pipes), "s")
    if "once_bytes" in checks:
        m["write_amp"] = _metric(h.bytes_written / checks["once_bytes"], "ratio")
    return m


def per_layer(h, checks) -> dict:
    """Per-layer figures: medians over the traced timed operations that
    reached each layer (0 when none did); execution.gc_s is the mean."""
    traced = [o for o in h.ops if o.traced]
    names = [(m["name"], m["unit"]) for m in _bench_spec()["per_layer"]]
    out = {}
    for name, unit in names:
        xs = [o.layers[name] for o in traced if name in o.layers]
        if name == "execution.gc_s":
            v = sum(xs) / len(traced) if traced else 0.0
        elif name == "session.register_tables_s":
            v = _median([r.get(name, 0.0) for r in h.setup_layers]) or 0.0
        elif name == "ddl.bytes_per_row_changed":
            timed_writes = [o for o in h.ops if o.kind == "write"]
            rows = sum(o.rows_changed for o in timed_writes)
            nbytes = sum(o.layers.get("ddl.bytes_written", 0) for o in timed_writes)
            v = nbytes / rows if rows else 0.0
        elif name == "llm_ops.candidate_precision":
            v = checks.get("candidate_precision", 0.0)
        else:
            v = _median(xs) or 0.0
        out[name] = _metric(v, unit)
    return out


def build_report(h, checks) -> tuple[dict, dict]:
    ops = h.ops
    s = summarize(ops, checks["final_state_mismatches"])
    warm_bad = [o for o in h.warm if o.error is not None or o.ok is False]
    correct = s["failed"] == 0 and not warm_bad
    e2e = end_to_end(h, checks)
    seen = {o.text for o in h.warm}
    repeated = 0
    for o in ops:
        repeated += o.text in seen
        seen.add(o.text)
    failures = {}
    for o in h.warm + ops:
        if o.error is not None or o.ok is False:
            failures.setdefault(o.template, o.error or "result differs from DuckDB")
    report = {
        "workload": h.args.workload,
        "seed": h.args.seed,
        "trace": h.args.trace,
        "metrics": e2e,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "failures": failures,
        "units": sorted({o.unit for o in ops}),
        "ops_by_kind": {k: sum(1 for o in ops if o.kind == k)
                        for k in ("read", "write", "pipeline")},
        "repeated_text_share": repeated / len(ops),
        "template_median_s": {t: statistics.median(o.latency for o in ops if o.template == t)
                              for t in sorted({o.template for o in ops})},
        "setup_statement_s": [o.latency for o in h.setup_ops],
        "inputs": h.gen_info,
        "setup_breakdown_s": {
            "process_to_session_and_inputs": h.t_session - h.t_start,
            "program_setup_reps": h.setup_reps,
            "workload_tables": h.t_tables - h.t_reps,
            "warmup": h.t_first - h.t_tables,
            "wall_to_first_op": h.t_first - h.t_start,
        },
        "loadavg": h.loadavg,
        "cpu_canary_s": h.canary,
        "duckdb_median_s": {k: statistics.median(v) for k, v in checks["duck_s"].items()},
        "pools": POOLS_NOTE,
    }
    if "final_state" in checks:
        report["final_state_ok"] = checks["final_state"]
        report["rows_changed"] = checks["rows_changed"]
    if h.args.trace:
        layers = per_layer(h, checks)
        report["per_layer"] = layers
        metrics = layers
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in _bench_spec()["end_to_end"]}
    result = {"correct": correct, "attempted": s["attempted"], "failed": s["failed"],
              "metrics": metrics}
    return report, result
