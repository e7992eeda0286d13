"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one workload against the clucene_spark package found next to this
directory, checks its outputs against the benchmark's own reference
answers, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and the spans
are written to .perfbench_traces/).

The run leaves nothing behind: every temporary file lives in one per-run
directory under .perfbench_run/ that is removed on exit, and every process
the run starts (the input-preparation child, the Spark JVM and its Python
workers) is waited for and confirmed gone through /proc before the result
line is printed.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()

import workloads  # noqa: E402  (after the start stamp)
from tracing import EventLog, Tracer  # noqa: E402

WORKLOADS = {
    "crawl_build": workloads.crawl_build,
    "serve_local": workloads.serve_local,
    "search_spark": workloads.search_spark,
    "curate_dedup": workloads.curate_dedup,
}


def _load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Context:
    def __init__(self, args, run_dir: str, marker: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.marker = marker
        self.tracer = Tracer(self.trace)
        self._prep = None
        self._expected = None
        self.own_s = 0.0  # the benchmark's own work before set-up ends
        self.setup_s = None
        self.rss_mb = 0.0
        self.spark = None

    def prepare_inputs(self) -> None:
        """Start generating inputs and reference answers in a child
        process; it runs while the Spark JVM starts."""
        self._prep = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "prepare.py"),
             self.workload, str(self.seed),
             os.path.join(self.run_dir, "inputs")],
            stdout=sys.stderr)

    @property
    def expected(self) -> dict:
        """The prepared inputs; the wait for them is the benchmark's own
        time, not set-up."""
        if self._expected is None:
            with self.own_work():
                if self._prep.wait(timeout=120) != 0:
                    raise RuntimeError("input preparation failed")
                with open(os.path.join(self.run_dir, "inputs",
                                       "expected.json")) as fh:
                    self._expected = json.load(fh)
        return self._expected

    def stop_prep(self) -> None:
        if self._prep is not None and self._prep.poll() is None:
            self._prep.kill()
            self._prep.wait()

    @contextlib.contextmanager
    def own_work(self):
        """Benchmark-side work during set-up, kept out of setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def start_spark(self):
        if self.spark is None:
            from clucene_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
            self.log("Spark session started")
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.time() - T_PROCESS - self.own_s
        self.sample_rss()
        self.log(f"set-up done: setup_s {self.setup_s:.2f}, waited "
                 f"{self.own_s:.2f} s on inputs and checks")

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench [{time.time() - T_PROCESS:7.2f} s] {msg}",
              file=sys.stderr, flush=True)

    def sample_rss(self) -> None:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.rss_mb = max(self.rss_mb, int(line.split()[1]) / 1024)
                    break


def _environment(run_dir: str, marker: str, trace: bool) -> None:
    """Process environment for Spark and its workers, set before the JVM
    starts so every child inherits it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "PERFBENCH_RUN": marker,
        # workers import clucene_spark from the checkout whatever the cwd
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        # every JVM (spark-submit's launcher too) keeps its temp files in
        # the run directory and writes no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in conf) + " pyspark-shell"
    os.environ.update(env)


def _stop_spark(ctx: Context) -> None:
    """Stop Spark, shut the gateway and wait for the JVM to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        ctx.spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _our_processes(marker: str) -> list[int]:
    """Live processes (other than this one) that carry this run's marker
    in their environment; zombies are skipped, they hold nothing."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    me = os.getpid()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle not in fh.read().split(b"\0"):
                    continue
            with open(f"/proc/{name}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    continue
        except OSError:  # gone, or not ours to read
            continue
        found.append(int(name))
    return found


def _reap(marker: str, grace_s: float = 15.0) -> list[int]:
    """Wait for the run's processes to end; kill any left after the grace
    period and return their pids (a non-empty list fails the run)."""
    deadline = time.monotonic() + grace_s
    while True:
        left = _our_processes(marker)
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    t_end = time.monotonic() + 5.0
    while _our_processes(marker) and time.monotonic() < t_end:
        time.sleep(0.1)
    return left


def _end_to_end(ctx: Context, res) -> dict:
    return {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.geometric_mean(
            statistics.median(v) for v in res.op_ms.values()), "unit": "ms"},
        "op_mean_ms": {"value": statistics.fmean(
            x for v in res.op_ms.values() for x in v), "unit": "ms"},
        "driver_peak_rss_mb": {"value": ctx.rss_mb, "unit": "MB"},
    }


def _per_layer(spec: dict, res) -> dict:
    """Every per-layer metric of the spec; layers this workload does not
    run read 0."""
    out = {}
    for m in spec["per_layer"]:
        out[m["name"]] = {"value": float(res.layers.get(m["name"], 0.0)),
                          "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    for pkg in ("clucene_spark", "pyspark", "numpy", "pyarrow"):
        if importlib.util.find_spec(pkg) is None:
            print(f"perfbench: cannot import the '{pkg}' package (looked in "
                  f"{ROOT} and the interpreter's path); run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2
    spec = _load_benchmark_spec()

    marker = uuid.uuid4().hex
    run_dir = os.path.join(ROOT, ".perfbench_run", marker)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args, run_dir, marker)
    res, rc = None, 0
    try:
        _environment(run_dir, marker, ctx.trace)
        ctx.prepare_inputs()
        res = WORKLOADS[args.workload](ctx)
        ctx.log(f"measured {res.attempted} operations")
    except Exception:
        traceback.print_exc()
        rc = 1
    finally:
        try:
            ctx.stop_prep()
            _stop_spark(ctx)
            if rc == 0 and ctx.trace:
                if res.fold is not None:
                    res.fold(EventLog(os.path.join(run_dir, "events")))
                trace_dir = os.path.join(ROOT, ".perfbench_traces")
                os.makedirs(trace_dir, exist_ok=True)
                ctx.tracer.write(os.path.join(
                    trace_dir, f"{args.workload}-{args.seed}.jsonl"))
        except Exception:
            traceback.print_exc()
            rc = 1
        finally:
            left = _reap(marker)
            if left:
                print(f"perfbench: processes {left} outlived the run and "
                      "were killed", file=sys.stderr)
                rc = 1
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    ctx.log("stopped; no process left" if rc == 0 else "failed")
    if rc:
        return rc
    for e in res.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    metrics = _per_layer(spec, res) if ctx.trace else _end_to_end(ctx, res)
    print(json.dumps({"correct": not res.errors, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
