"""Layered benchmark of the post-GWAS engine: one closed-loop client on local[4].

Usage (from the repository root):

    python3 layerbench/run.py --workload gwas_coloc_chain --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (``gen.py``) and the
expected result digests on DuckDB (``oracle.py``). Set-up (``setup_s``)
is the session's creation in a fresh JVM plus one unchecked warm-up pass
over the workload's operations, which pays their codegen, JIT and
Python-worker start. Then come the measured passes, back to back while
another is expected to end within ``--seconds`` (at least one). Every
measured operation's output is checked against its expected digest
after its pass.

An operation is timed from outside the package, in two parts:
registry queries as ``contract.QUERIES[name](spark, dir)`` (build) then
an Arrow collect of the result (sink); chain steps as
``steps.run_step(..., write=False)`` (build) then the parquet write.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures
untraced for half of ``--seconds``, then restarts the session in the
same JVM with the event log on, sets one job group per build and per
sink, measures for the other half, and prints the per-layer metrics;
its per-operation records and spans go to
``.bench_out/<workload>-seed<N>-trace1.json``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
All scratch files (inputs, outputs, Spark local dirs, warehouse,
checkpoints, event log) live under ``.bench_work/`` and are removed at
the end.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from check import same_result  # noqa: E402
from tracing import EVENTLOG_METRICS, Tracer, catalyst_phases, group_counts, parse_eventlog  # noqa: E402

from workloads import CHAIN, WORKLOADS  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "ok_frac": "ratio", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.get_session_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.sink_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "steps.build_s": "s", "steps.write_s": "s", "steps.bytes_written": "bytes",
    "steps.files_written": "count",
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.disk_bytes": "bytes",
    "python.start_s": "s", "python.init_s": "s", "python.run_s": "s",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "driver.build_share": "ratio", "checkpoint.bytes_left": "bytes",
    "trace.overhead_s": "s", "ops.accounted_share": "ratio",
    "self.workload_s": "s", "self.operation_s": "s", "self.build_s": "s",
    "self.sink_s": "s", "self.job_s": "s",
}
# per-operation layer metrics, averaged over the traced operations
PER_OP = ["queries.build_s", "queries.sink_s", "steps.build_s", "steps.write_s",
          "steps.bytes_written", "steps.files_written", "catalyst.analysis_s",
          "catalyst.optimization_s", "catalyst.planning_s", "spark.jobs", "spark.stages",
          "spark.tasks", *EVENTLOG_METRICS]


def log(msg: str) -> None:
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this process plus its JVM child."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.jvm_pid = None

    # ---------------------------------------------------------------- set-up
    def prepare(self) -> None:
        gen = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(self.args.seed),
               "--out", self.inputs]
        for k, v in self.wl["gen"].items():
            gen += [f"--{k}", str(v)]
        self.input_sizes = json.loads(subprocess.run(gen, check=True, capture_output=True,
                                                     text=True).stdout)
        exp_path = os.path.join(self.work, "expected.json")
        subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), "--workload",
                        self.args.workload, "--inputs", self.inputs, "--out", exp_path],
                       check=True)
        with open(exp_path) as fh:
            self.expected = json.load(fh)

    def start(self, traced: bool) -> float:
        """Create the session (a fresh JVM unless one is still running);
        returns the seconds ``get_session`` took."""
        from genetics_spark_coloc_spark.session import get_session

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # no perf data file and a private tmpdir keep the JVM's files in the run
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        if traced:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{ev}",
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        spark = get_session(app_name="layerbench", master=MASTER,
                            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        t1 = time.perf_counter()
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setCheckpointDir(os.path.join(self.work, "ckpt"))
        self.spark = spark
        self.jvm_pid = sc._gateway.proc.pid
        return t1 - t0

    def setup(self) -> dict:
        """Cold set-up: a fresh JVM and session, then one unchecked pass over
        the workload, which pays its codegen, JIT and Python-worker start."""
        get_session_s = self.start(traced=False)
        t0 = time.perf_counter()
        self.run_pass(-1, None, checked=False)
        return {"get_session_s": get_session_s, "warmup_s": time.perf_counter() - t0}

    def stop(self, keep_jvm: bool = False) -> None:
        """Stop the session and, unless ``keep_jvm``, its JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None and not keep_jvm:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)

    # ------------------------------------------------------------ operations
    def _op_fns(self, name: str):
        """(build, sink, check) callables of one operation."""
        spark = self.spark
        if self.args.workload == "gwas_coloc_chain":
            from genetics_spark_coloc_spark.steps import run_step

            from oracle import step_output_digest

            op = next(o for o in CHAIN if o["name"] == name)
            out = os.path.join(self.out, name)
            inputs = {k: os.path.join(self.inputs, v) for k, v in op["inputs"].items()}

            def build():
                return run_step(spark, op["step"], inputs, output=out, params=op["params"],
                                write=False)

            def sink(df):
                df.write.mode("overwrite").parquet(out)

            def check(df):
                return step_output_digest(op["query"], out)

            return build, sink, check
        from genetics_spark_coloc_spark.contract import QUERIES

        from check import digest

        result = {}

        def build():
            return QUERIES[name](spark, self.inputs)

        # the sink collects the result as Arrow, so the check digests the
        # timed result itself instead of running the query a second time
        def sink(df):
            result["table"] = df.toArrow()

        def check(df):
            return digest(result.pop("table").to_pandas())

        return build, sink, check

    def run_pass(self, idx: int, tracer: Tracer | None, checked: bool = True) -> dict:
        sc = self.spark.sparkContext
        chain = self.args.workload == "gwas_coloc_chain"
        span = tracer.span if tracer else _no_span
        ops, pending = [], []
        # start every pass from collected heaps on both sides of py4j
        gc.collect()
        self.spark._jvm.System.gc()
        t_pass = time.perf_counter()
        for j, name in enumerate(self.wl["ops"]):
            build, sink, check = self._op_fns(name)
            rec = {"pass": idx, "op": name, "error": None}
            groups = [f"{idx}/{j}/build", f"{idx}/{j}/sink"]
            try:
                with span(name, "operation", pass_idx=idx):
                    t0 = time.perf_counter()
                    with span("build", "build"):
                        if tracer:
                            sc.setJobGroup(groups[0], name)
                        df = build()
                    t1 = time.perf_counter()
                    with span("write" if chain else "sink", "sink"):
                        if tracer:
                            sc.setJobGroup(groups[1], name)
                        sink(df)
                    t2 = time.perf_counter()
                    rec.update(build_s=t1 - t0, sink_s=t2 - t1, latency_s=t2 - t0)
                    if tracer:
                        sc.setJobGroup("bench/bookkeeping", "")
                        counts = [group_counts(sc, g) for g in groups]
                        rec.update({k: counts[0][k] + counts[1][k] for k in counts[0]})
                        rec.update(catalyst_phases(df), groups=groups)
                pending.append((rec, df, check))
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                rec["traceback"] = traceback.format_exc()
            ops.append(rec)
        wall = time.perf_counter() - t_pass
        # output checks, outside the pass's timed window
        if tracer:
            sc.setJobGroup("bench/check", "")
        for rec, df, check in pending if checked else []:
            try:
                got, want = check(df), self.expected[rec["op"]]
                if not same_result(got, want):
                    rec["error"] = (f"output mismatch: {len(got['rows'])} rows vs "
                                    f"{len(want['rows'])} expected")
                elif chain:
                    rec["steps.bytes_written"], rec["steps.files_written"] = dir_bytes(
                        os.path.join(self.out, rec["op"]))
            except Exception as exc:  # noqa: BLE001 - a failed check is counted, not fatal
                rec["error"] = f"check {type(exc).__name__}: {str(exc)[:300]}"
                rec["traceback"] = traceback.format_exc()
        self.spark.catalog.clearCache()
        if tracer:
            sc.setJobGroup("bench/idle", "")
        return {"pass": idx, "wall_s": wall, "ops": ops}

    def measure(self, seconds: float, tracer: Tracer | None, first_idx: int) -> list[dict]:
        """One pass, then more while another is expected to end within ``seconds``."""
        passes = []
        t0 = time.perf_counter()
        with (tracer.span if tracer else _no_span)(self.args.workload, "workload"):
            while not passes or (
                    time.perf_counter() - t0 + median([p["wall_s"] for p in passes]) <= seconds):
                passes.append(self.run_pass(first_idx + len(passes), tracer))
        return passes


@contextlib.contextmanager
def _no_span(*_args, **_kwargs):
    yield None


def summarize(passes: list[dict]) -> dict:
    """End-to-end figures of the measured passes. The tail is each pass's
    slowest operation, median over passes, so it does not grow with the
    number of passes that fit in a run."""
    ops = [o for p in passes for o in p["ops"]]
    lat = [o["latency_s"] for o in ops if o["error"] is None]
    slowest = [max(o["latency_s"] for o in p["ops"] if o["error"] is None)
               for p in passes if any(o["error"] is None for o in p["ops"])]
    return {
        "wall_s": median([p["wall_s"] for p in passes]),
        "op_p50_s": median(lat),
        "op_tail_s": median(slowest),
        "samples": len(lat),
        "passes": len(passes),
        "attempted": len(ops),
        "failed": sum(o["error"] is not None for o in ops),
        "accounted_share": median([
            sum(o.get("latency_s", 0.0) for o in p["ops"]) / p["wall_s"] for p in passes]),
    }


def layer_metrics(bench: Bench, passes: list[dict], tracer: Tracer, untraced: dict,
                  traced: dict, setup: dict, ckpt_bytes: int) -> dict:
    per_group, job_spans = parse_eventlog(os.path.join(bench.work, "eventlog"))
    chain = bench.args.workload == "gwas_coloc_chain"
    ops = [o for p in passes for o in p["ops"] if o["error"] is None]
    # each Spark job span hangs under the build/sink span whose job group ran it
    op_spans = {s["id"]: s for s in tracer.spans if s["kind"] == "operation"}
    phase_of_group = {}
    for s in tracer.spans:
        op = op_spans.get(s["parent"])
        if op is not None:
            j = bench.wl["ops"].index(op["name"])
            phase_of_group[f"{op['pass_idx']}/{j}/{s['kind']}"] = s["id"]
    for jspan in job_spans:
        if jspan["group"] in phase_of_group:
            tracer.add(f"job {jspan['job']}", "job", jspan["start"], jspan["end"],
                       phase_of_group[jspan["group"]])
    for o in ops:
        for k in EVENTLOG_METRICS:
            o[k] = sum(per_group.get(g, {}).get(k, 0.0) for g in o["groups"])
        o["python_nodes"] = sorted({n for g in o["groups"]
                                    for n in per_group.get(g, {}).get("python_nodes", [])})
        if chain:
            o["steps.build_s"], o["steps.write_s"] = o["build_s"], o["sink_s"]
        else:
            o["queries.build_s"], o["queries.sink_s"] = o["build_s"], o["sink_s"]
    n = max(1, len(ops))
    m = {k: sum(o.get(k, 0.0) for o in ops) / n for k in PER_OP}
    m["session.get_session_s"] = setup["get_session_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    build = sum(o["build_s"] for o in ops)
    m["driver.build_share"] = build / max(1e-9, build + sum(o["sink_s"] for o in ops))
    m["checkpoint.bytes_left"] = ckpt_bytes
    m["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    m["ops.accounted_share"] = untraced["accounted_share"]
    selfs = tracer.self_times()
    for kind in ("workload", "operation", "build", "sink", "job"):
        m[f"self.{kind}_s"] = selfs.get(kind, 0.0) / max(1, len(passes))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of the post-GWAS engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally below: stop the JVM, drop scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import genetics_spark_coloc_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("inputs", "out", "ckpt", "local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # hermetic: Python workers import the package from this checkout, and
    # every file Spark writes lands under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.chdir(work)
    bench = Bench(args, work)
    try:
        bench.prepare()
        # one cold set-up, then the measured passes. A traced run measures
        # half the time untraced, then restarts the session in the same,
        # already warm JVM with the event log on and measures again.
        seconds = args.seconds / 2 if args.trace else args.seconds
        setup = bench.setup()
        traced_passes, tracer, restart_s = [], None, None
        untraced_passes = bench.measure(seconds, None, 0)
        rss = peak_rss_mb(bench.jvm_pid)
        if args.trace:
            bench.stop(keep_jvm=True)
            restart_s = bench.start(traced=True)
            tracer = Tracer()
            traced_passes = bench.measure(seconds, tracer, 1000)
        bench.stop()
        ckpt_bytes = dir_bytes(os.path.join(work, "ckpt"))[0]
        untraced = summarize(untraced_passes)
        all_passes = untraced_passes + traced_passes
        attempted = sum(len(p["ops"]) for p in all_passes)
        failed = sum(o["error"] is not None for p in all_passes for o in p["ops"])
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "master": MASTER, "nproc": os.cpu_count(),
                  "inputs": bench.input_sizes, "setup": setup, "traced_restart_s": restart_s,
                  "untraced": untraced,
                  "peak_rss_mb": rss, "checkpoint_bytes_left": ckpt_bytes,
                  "errors": sorted({o["error"] for p in all_passes for o in p["ops"] if o["error"]})}
        if args.trace:
            traced_sum = summarize(traced_passes)
            values = layer_metrics(bench, traced_passes, tracer, untraced, traced_sum, setup,
                                   ckpt_bytes)
            metrics = {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}
            record.update(traced=traced_sum, spans=tracer.spans)
        else:
            values = dict(untraced, setup_s=setup["get_session_s"] + setup["warmup_s"],
                          ok_frac=1.0 - untraced["failed"] / max(1, untraced["attempted"]),
                          peak_rss_mb=rss)
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        record["metrics"] = metrics
        record["passes"] = all_passes
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        for e in record["errors"]:
            log(f"operation failed: {e}")
        log(f"{args.workload}: {untraced['passes']} passes, {untraced['samples']} op samples")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        try:
            bench.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
