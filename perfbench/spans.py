"""Span tracing for the benchmark's traced runs (``--trace 1``).

Wrappers are installed at the module and class attributes the program
calls through, never inside the program's own files, and only in a
traced run. Each wrapped call records a span (name, start, end, parent,
operation id, py4j round trips made inside it). The harness turns the
spans of each operation into per-layer figures (``layer_stats``) and
writes them all out at exit.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
from dataclasses import asdict, dataclass, field

#: (module, attribute, span name). Class attributes are given as
#: "Class.method". Each entry is a binding the program resolves at call
#: time: engine.py and ddl.py bind `translate` at import, engine.py binds
#: `register_tables`, and ddl/llm_ops/queries import `materialize_stage`
#: from operators inside the calling function.
PATCH_POINTS = [
    ("impala_spark.engine", "ImpalaEngine.sql", "engine.sql"),
    ("impala_spark.engine", "translate", "parser.translate"),
    ("impala_spark.ddl", "translate", "parser.translate"),
    ("impala_spark.engine", "register_tables", "session.register_tables"),
    ("impala_spark.rewrites", "referenced_base_tables", "rewrites.referenced_base_tables"),
    ("impala_spark.rewrites", "audit_table_refs", "rewrites.audit_table_refs"),
    ("impala_spark.rewrites", "parse_global_rank", "rewrites.parse_global_rank"),
    ("impala_spark.rewrites", "two_level_distinct", "rewrites.two_level_distinct"),
    ("impala_spark.operators", "global_rank", "rewrites.global_rank"),
    ("impala_spark.ddl", "insert", "ddl.insert"),
    ("impala_spark.ddl", "modify", "ddl.modify"),
    ("impala_spark.ddl", "upsert", "ddl.upsert"),
    ("impala_spark.operators", "materialize_stage", "operators.materialize_stage"),
    ("pyspark.sql.session", "SparkSession.sql", "catalyst.sql"),
]

_MEMORY_DELETE = "m\nd\n"


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: int | None
    idx: int
    end: float = 0.0
    py4j: int = 0  # round trips inside the span (the counter value until closed)
    fired: bool = False
    results: list = field(default_factory=list, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for the operation named by ``self.op``; records
    nothing while ``op`` is None, so harness bookkeeping between
    operations never shows up in a layer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: str | None = None
        self.py4j = 0
        self._main = threading.get_ident()
        self._saved: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _active(self) -> bool:
        return self.op is not None and threading.get_ident() == self._main

    def open(self, name: str) -> Span:
        sp = Span(name, self.op, time.perf_counter(),
                  self.stack[-1].idx if self.stack else None, len(self.spans))
        sp.py4j = self.py4j
        self.spans.append(sp)
        self.stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.py4j = self.py4j - sp.py4j
        self.stack.pop()

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer._active():
                return fn(*args, **kwargs)
            sp = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if name == "catalyst.sql":
                sp.results.append(out)  # tracker phases are read after the op
            elif name == "rewrites.two_level_distinct":
                sp.fired = out is not None
            elif name == "rewrites.global_rank":
                sp.fired = True
            return out

        traced.__wrapped__ = fn
        return traced

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, name in PATCH_POINTS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self.wrap(name, orig))
        from py4j.java_gateway import GatewayClient

        orig_send = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if tracer._active() and not command.startswith(_MEMORY_DELETE):
                tracer.py4j += 1
            return orig_send(client, command, *args, **kwargs)

        self._saved.append((GatewayClient, "send_command", orig_send))
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    # -- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d.pop("results")
                f.write(json.dumps(d) + "\n")


def _self_time(sp: Span, children: dict[int, list[Span]]) -> float:
    return sp.dur - sum(c.dur for c in children.get(sp.idx, []))


def layer_stats(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of ONE operation from its spans. Layers the
    operation never reached are absent (not zero), so medians over
    operations only count the operations that reached the layer."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    by_idx = {sp.idx: sp for sp in spans}

    def outermost(sp: Span) -> bool:
        p = sp.parent
        while p is not None and p in by_idx:
            if by_idx[p].name == sp.name:
                return False
            p = by_idx[p].parent
        return True

    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for sp in spans:
        if not outermost(sp):
            continue
        n = sp.name
        if n == "parser.translate":
            add("parser.translate_s", sp.dur)
            add("parser.translate_calls", 1)
        elif n == "engine.sql":
            add("engine.sql_self_s", _self_time(sp, children))
            add("engine.py4j_calls", sp.py4j)
        elif n.startswith("rewrites."):
            add("rewrites.self_s", _self_time(sp, children))
            add("rewrites.calls", 1)
            add("rewrites.fires", 1 if sp.fired else 0)
        elif n == "catalyst.sql":
            add("catalyst.sql_calls", 1)
        elif n in ("ddl.insert", "ddl.modify", "ddl.upsert"):
            add(n + "_s", sp.dur)
        elif n == "operators.materialize_stage":
            add("operators.materialize_stage_s", sp.dur)
            add("operators.materialize_stage_calls", 1)
        elif n == "session.register_tables":
            add("session.register_tables_s", sp.dur)
        elif n == "llm_ops.build":
            mat = sum(c.dur for c in spans
                      if c.name == "operators.materialize_stage" and c.start >= sp.start
                      and c.end <= sp.end)
            add("llm_ops.build_s", sp.dur - mat)
            add("llm_ops.py4j_calls", sp.py4j)
        elif n == "execution.collect":
            add("execution.collect_s", sp.dur)
    return out


def tracker_phases(dfs: list) -> dict[str, float]:
    """Catalyst phase seconds summed over the QueryPlanningTracker of each
    distinct DataFrame the operation planned (each SparkSession.sql result
    and the DataFrame it collected)."""
    out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
           "catalyst.planning_s": 0.0}
    for df in {id(d): d for d in dfs}.values():
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                out[f"catalyst.{phase}_s"] += opt.get().durationMs() / 1000.0
    return out
