"""The benchmark harness: set-up, one operation, the timed loop, shutdown."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _subs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after and new or changed since before."""
    new = [v[0] for p, v in after.items() if before.get(p) != v]
    return len(new), sum(new)


def _rows(tbl) -> tuple[list[str], list[tuple]]:
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


def tail_latency(values: list[float]) -> tuple[float | None, int | None]:
    """Highest whole percentile p with at least 10 samples above it:
    (value, p), or (None, None) when fewer than 11 samples exist."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None, None
    p = min(99, (100 * (n - 10)) // n)
    return xs[max(0, -(-p * n // 100) - 1)], p


def summarize(ops, extra_failures: int = 0) -> dict:
    """attempted / failed / error_rate of the timed operations. An
    operation fails when it raised or its result differed from DuckDB."""
    attempted = len(ops)
    failed = sum(1 for o in ops if o.error is not None or o.ok is False)
    failed = min(attempted, failed + extra_failures)
    return {"attempted": attempted, "failed": failed,
            "error_rate": failed / attempted if attempted else 1.0}


class Harness:
    def __init__(self, args, scratch: str, t_start: float):
        self.args = args
        self.scratch = scratch
        self.t_start = t_start
        self.tracing = bool(args.trace)
        self.tracer = None
        self.spark = None
        self._final_df = None  # the DataFrame an operation collected
        self.bytes_written = 0  # under the warehouse, by every write

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        from workloads import WORKLOADS

        groups, self.unit_stream, warm = WORKLOADS[self.args.workload]
        bench = _load("perfbench_bench_py", os.path.join(ROOT, "bench.py"))
        self.loadavg, self.canary = bench._quiet_wait_and_sample(0)
        # inputs are generated in a child process while the JVM starts
        # (and, for llm_dedup, the DuckDB oracle results)
        self.inputs = os.path.join(self.scratch, "inputs")
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(self.args.seed),
               "--out", self.inputs, "--tables", ",".join(groups)]
        self.expected = None
        if self.args.workload == "llm_dedup":
            self.expected = os.path.join(self.scratch, "expected.pkl")
            cmd += ["--expect", self.expected]
        gen = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            from impala_spark import ddl
            from impala_spark.session import get_spark

            self.warehouse = ddl.WAREHOUSE
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.sc = self.spark.sparkContext
            self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        finally:
            out, err = gen.communicate()
        if gen.returncode != 0:
            raise RuntimeError(f"input generation failed: {err.strip()[-2000:]}")
        self.gen_info = json.loads(out.strip().splitlines()[-1])
        self.t_session = time.perf_counter()
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.install()

        from impala_spark.engine import ImpalaEngine

        # program set-up, repeated on fresh copies of the inputs: engine
        # construction registers every table of the directory
        self.setup_reps, self.setup_layers = [], []
        for k in range(SETUP_REPS):
            d = os.path.join(self.scratch, f"inputs{k}")
            os.makedirs(d)
            for f in os.listdir(self.inputs):
                os.link(os.path.join(self.inputs, f), os.path.join(d, f))
            self._begin(f"setup{k}")
            t = time.perf_counter()
            self.eng = ImpalaEngine(self.spark, sf_dir=d)
            self.setup_reps.append(time.perf_counter() - t)
            self.setup_layers.append(self._end(f"setup{k}"))
            self.sf_dir = d
        self.t_reps = time.perf_counter()
        self.tracing = False  # only timed units are traced from here on

        self.setup_ops = []
        if self.args.workload == "oltp_mixed":
            from workloads import OLTP_SETUP, Op

            for text, duck in OLTP_SETUP:
                op = Op("write", "setup", text, duck, -1)
                self.run_op(op)
                if op.error:
                    raise RuntimeError(f"set-up statement failed: {text}: {op.error}")
                self.setup_ops.append(op)
        self.t_tables = time.perf_counter()
        self.units = self.unit_stream(self.args.seed)
        self.warm = next(self.units) if warm else []
        for op in self.warm:
            self.run_op(op)

    # -- one operation -------------------------------------------------------
    def _begin(self, op_id: str) -> None:
        if self.tracer is not None and self.tracing:
            self.sc.setJobGroup(op_id, op_id)
            self.gc0 = self._gc_ms()
            self.tracer.op = op_id

    def _end(self, op_id: str) -> dict:
        if self.tracer is None or self.tracer.op != op_id:
            return {}
        from spans import layer_stats, tracker_phases

        self.tracer.op = None
        spans = [s for s in self.tracer.spans if s.op == op_id]
        layers = layer_stats(spans)
        sql_dfs = [df for s in spans if s.name == "catalyst.sql" for df in s.results]
        for s in spans:
            s.results.clear()
        if self._final_df is not None:
            sql_dfs.append(self._final_df)
        if sql_dfs:
            layers.update(tracker_phases(sql_dfs))
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(op_id))
        stages = [s for j in jobs if st.getJobInfo(j) for s in st.getJobInfo(j).stageIds]
        infos = [st.getStageInfo(s) for s in stages]
        layers["execution.jobs"] = len(jobs)
        layers["execution.stages"] = len(stages)
        layers["execution.tasks"] = sum(i.numTasks for i in infos if i is not None)
        layers["execution.gc_s"] = (self._gc_ms() - self.gc0) / 1000.0
        self.sc._jsc.clearJobGroup()
        return layers

    def _cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and this process.
        Unlike wall time, it does not grow with time stolen by other
        tenants of the machine."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def _collect(self, df):
        sp = self.tracer.open("execution.collect") if self.tracer and self.tracer.op else None
        try:
            return df.toArrow()
        finally:
            if sp is not None:
                self.tracer.close(sp)

    def run_op(self, op) -> None:
        op_id = f"u{op.unit}:{id(op)}"
        is_write = op.kind == "write"
        before = _dir_files(self.warehouse) if is_write else None
        self._final_df = None
        self._begin(op_id)
        cpu = self._cpu_s()
        t = time.perf_counter()
        try:
            if op.kind == "pipeline":
                from impala_spark import queries
                from workloads import PIPELINES

                fn = getattr(queries, PIPELINES[op.template][0])
                sp = self.tracer.open("llm_ops.build") if self.tracer and self.tracer.op else None
                try:
                    df = fn(self.spark, self.sf_dir)
                finally:
                    if sp is not None:
                        self.tracer.close(sp)
            else:
                df = self.eng.sql(op.text)
            tbl = self._collect(df)
            op.latency = time.perf_counter() - t
            self._final_df = df
        except Exception as e:  # noqa: BLE001 - any failure is a failed operation
            op.latency = time.perf_counter() - t
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            tbl = None
        op.cpu_s = self._cpu_s() - cpu
        op.layers = self._end(op_id)
        self._final_df = None
        if tbl is not None:
            op.result = _rows(tbl)
            op.layers["transfer.rows"] = tbl.num_rows
            op.layers["transfer.bytes"] = tbl.nbytes
        if is_write:
            files, nbytes = _written(before, _dir_files(self.warehouse))
            self.bytes_written += nbytes
            op.layers["ddl.files_written"] = files
            op.layers["ddl.bytes_written"] = nbytes

    # -- the timed loop ------------------------------------------------------
    def measure(self) -> None:
        """Whole units until --seconds have passed. A traced run instead
        traces exactly one unit, the first a normal run measures, so its
        per-layer counts repeat exactly for a seed."""
        self.t_first = time.perf_counter()
        self.ops = []
        self.tracing = bool(self.args.trace)
        while True:
            for op in next(self.units):
                op.traced = self.tracing
                self.run_op(op)
                self.ops.append(op)
            if self.tracing or time.perf_counter() - self.t_first >= self.args.seconds:
                break
        self.peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)) / 1024.0
        mem = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        self.heap_live_mb = mem.getHeapMemoryUsage().getUsed() / 2**20

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


