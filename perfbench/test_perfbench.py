"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from harness import ROOT, _load, summarize, tail_latency  # noqa: E402
from report import same_result  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _texts(workload: str, seed: int, units: int = 3) -> list[tuple[str, str]]:
    stream = WORKLOADS[workload][1](seed)
    return [(o.text, o.duck) for u in itertools.islice(stream, units) for o in u]


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    info = gen.generate(5, str(a), ["corpus", "events"])
    assert gen.generate(5, str(b), ["corpus", "events"]) == info
    gen.generate(6, str(c), ["corpus", "events"])
    for f in sorted(os.listdir(a)):
        assert (a / f).read_bytes() == (b / f).read_bytes(), f
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()
    assert info["planted_near_dup_share"] > 0 and info["planted_exact_dup_share"] > 0


def test_same_seed_same_statements():
    for workload in WORKLOADS:
        assert _texts(workload, 11) == _texts(workload, 11), workload
    for workload in ("olap_frontdoor", "oltp_mixed"):
        assert _texts(workload, 11) != _texts(workload, 12), workload


def test_oltp_mix_is_seed_independent():
    def mix(seed):
        stream = WORKLOADS["oltp_mixed"][1](seed)
        return [sorted((o.template, re.search(r"(?:UPDATE|FROM|INTO)\s+(\w+)", o.text)[1])
                       for o in u) for u in itertools.islice(stream, 6)]

    assert mix(1) == mix(2)
    for unit in itertools.islice(WORKLOADS["oltp_mixed"][1](3), 4):
        if unit[0].unit > 0:
            assert [o.kind for o in unit].count("write") == 3 and len(unit) == 10


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and len(m["name"]) <= 64, m
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), m
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_injected_wrong_result_raises_error_rate():
    norm_rows = _load("perfbench_check_py", os.path.join(ROOT, "tools", "check.py")).norm_rows
    expected = (["k", "v"], [(1, 0.5), (2, 1.25)])
    ops = []
    for i in range(4):
        op = Op("read", "t", "SELECT 1", "SELECT 1")
        op.result = (["v", "k"], [(1.25, 2), (0.5, 1)])  # same rows, other order
        ops.append(op)
    for op in ops:
        op.ok = same_result(norm_rows, op.result, expected)
    assert summarize(ops)["error_rate"] == 0.0
    ops[1].result = (["k", "v"], [(1, 0.5), (2, 1.26)])  # the injected wrong value
    for op in ops:
        op.ok = same_result(norm_rows, op.result, expected)
    s = summarize(ops)
    assert s["failed"] == 1 and s["error_rate"] == 0.25
    ops[2].error = "RuntimeError: boom"
    assert summarize(ops)["error_rate"] == 0.5


def test_tail_latency_keeps_ten_samples_above():
    assert tail_latency([0.1] * 10) == (None, None)
    xs = [i / 100 for i in range(1, 101)]
    value, pct = tail_latency(xs)
    assert pct == 90 and sum(x > value for x in xs) == 10
