"""End-to-end benchmark of the bpspark ingestion pipeline and corpus operators.

Run from the root of a bpspark checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones, measured without instrumentation; with
``--trace 1`` they are the per-layer counters and span self times, and the
spans are written to ``.perfbench/results/``. See perfbench/METRICS.md for
what each metric means and which layer and workload it belongs to.

The run uses ``local[N]`` with N = the cores this process may use, keeps
every file it writes under ``.perfbench/`` in the checkout, removes its
scratch directory at exit and stops the Spark JVM before returning. It
exits non-zero when an output is wrong or the checkout holds no program.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

T0 = time.perf_counter()
ROOT = os.getcwd()
SETUP_CYCLES = 3
E2E = {"setup_s": "s", "pass_s": "s", "replay_s": "s", "latency_s": "s", "peak_rss_mb": "MB"}


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (driver, Spark JVM, Python
    workers): every 0.25 s the VmHWM of each live process is summed, and the
    largest sum is kept. Workers that come and go count while they live, so
    the figure follows how many run at once, not how many were started."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.halt = threading.Event()

    @staticmethod
    def _tree(pid: int) -> dict[int, int]:
        """``pid`` and its descendants, each mapped to its parent. A dict:
        the per-thread ``children`` lists can name one child twice while
        threads come and go, and a process counted twice would add its
        whole VmHWM again."""
        out, todo = {}, [(pid, 0)]
        while todo:
            p, parent = todo.pop()
            if p in out:
                continue
            out[p] = parent
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as fh:
                        todo.extend((int(c), p) for c in fh.read().split())
            except OSError:  # the process or thread ended while we looked
                continue
        return out

    @staticmethod
    def _vm(pid: int) -> tuple[int, int] | None:
        """(VmPeak, VmHWM) in KiB, or None once the process has gone."""
        try:
            with open(f"/proc/{pid}/status") as fh:
                f = dict(ln.split(":", 1) for ln in fh if ln.startswith(("VmPeak:", "VmHWM:")))
            return int(f["VmPeak"].split()[0]), int(f["VmHWM"].split()[0])
        except (OSError, KeyError):
            return None

    def sample(self) -> None:
        """Sum VmHWM over the tree, leaving out a child that still shares
        its parent's address space: the JVM starts each shell command
        (Hadoop's local file system runs ``chmod`` without native
        libraries) through a vfork-style spawn, and until that child execs,
        /proc shows the whole JVM's memory figures for it."""
        tree = self._tree(os.getpid())
        vm = {p: self._vm(p) for p in tree}
        total = sum(v[1] for p, v in vm.items()
                    if v is not None and v != vm.get(tree[p]))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self.halt.wait(0.25):
            self.sample()

    def stop(self) -> float:
        self.halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                continue
    return total


def _stop_spark(spark) -> None:
    """Stop the session and the Py4J gateway JVM, then wait until the JVM
    and every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    descendants = [p for p in RssSampler._tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in descendants:  # grandchildren are reaped by init, not by us
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("bpspark/__init__.py", "__spark_entry__.py", "tests/oracle_compare.py")):
        print("perfbench: run from the root of a bpspark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.probe import Probe
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    scratch = os.path.join(run_dir, "scratch")
    for d in ("tmp", "jtmp", "scratch", "inputs"):
        os.makedirs(os.path.join(run_dir, d))
    # every temporary file of the driver, the JVMs and the engine stays in
    # run_dir (-XX:-UsePerfData: no hsperfdata file under /tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["BPSPARK_SCRATCH_DIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"), f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/jtmp")))
    try:
        return _run(args, run_dir, scratch, Probe, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, scratch: str, Probe, workload_cls) -> int:
    import pyspark
    from pyspark import SparkConf, SparkContext

    import bpspark
    from bpspark.session import build

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/jtmp",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
    }
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        # set-up: imports, JVM launch and session build happen once per
        # process; seeded input generation and warm-up are repeated
        # SETUP_CYCLES times. setup_s = the one-off part + the median round.
        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=SparkConf().setAll(list(conf.items())))
        jvm_launch_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        spark = build(app_name="perfbench", master=master, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        bpspark.ensure_worker_imports(spark)
        build_s = time.perf_counter() - t1
        one_off_s = time.perf_counter() - T0  # interpreter and imports included
        cycles = []
        for c in range(SETUP_CYCLES):
            t1 = time.perf_counter()
            workload = workload_cls(args.seed)
            workload.generate(os.path.join(run_dir, "inputs", f"cycle{c}"))
            workload.warm(spark)
            cycles.append(time.perf_counter() - t1)
        setup_s = one_off_s + statistics.median(cycles)

        probe = Probe(spark, bool(args.trace))
        t_run = time.time()
        with probe.span("run"):
            workload.run(spark, probe, args.seconds)
        t_run_end = time.time()
        workload.check(spark)
        t_checked = time.time()
        peak_rss_mb = rss.stop()
        if args.trace:
            from perfbench.layers import per_layer

            layer_metrics = per_layer(probe, workload, jvm_launch_s=jvm_launch_s,
                                      build_s=build_s)
    except Exception as exc:  # noqa: BLE001 — report, stop Spark, exit non-zero
        import traceback

        traceback.print_exc()
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr)
        return 1
    finally:
        rss.halt.set()
        if spark is not None:
            t_stop = time.time()
            _stop_spark(spark)
            t_stopped = time.time()
    # what the engine left in its scratch root once the session is gone
    scratch_left = _du(scratch)

    m = workload.metrics
    env = {"nproc": nproc, "master": master, "spark": pyspark.__version__,
           "python": platform.python_version(), "seed": args.seed,
           "workload": args.workload, "units": int(m["units"])}
    print("env " + json.dumps(env))
    print(f"timeline_s jvm {jvm_launch_s:.2f} build {build_s:.2f} "
          f"setup_cycles {' '.join(f'{x:.2f}' for x in cycles)} "
          f"run {t_run_end - t_run:.2f} check {t_checked - t_run_end:.2f} "
          f"stop {t_stopped - t_stop:.2f} total {time.perf_counter() - T0:.2f}")
    for problem in workload.problems:
        print(f"CHECK FAILED: {problem}")
    print(f"failed_ops_ratio {workload.failed / max(workload.attempted, 1):.4f} "
          f"({workload.failed}/{workload.attempted})")
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
           **{k: m[k] for k in ("pass_s", "replay_s", "latency_s")}}
    units = {**E2E, "zips_per_s": "1/s"}
    for k, v in sorted({**e2e, **m}.items()):
        print(f"{k} {v:.6g} {units.get(k, 'count')}")
    if hasattr(workload, "wave_latencies"):
        print(f"wave_latencies_s {' '.join(f'{x:.3f}' for x in workload.wave_latencies)}")

    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{args.workload}-seed{args.seed}.json")
    if args.trace:
        probe.write(os.path.join(results, f"{args.workload}-seed{args.seed}-trace.json"))
        for name, t in sorted(probe.self_times().items()):
            print(f"self_s {name} {t:.4f}")
        if os.path.exists(untraced):  # tracing overhead against the untraced run
            with open(untraced) as fh:
                base = json.load(fh)
            print("tracing_overhead " + " ".join(
                f"{k} {m[k] - base[k]:+.4f}" for k in ("pass_s", "zips_per_s") if k in m))
        layer_metrics["config.scratch_left_bytes"] = (float(scratch_left), "bytes")
        out = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()}
    else:
        with open(untraced, "w") as fh:
            json.dump({k: v for k, v in {**e2e, **m}.items() if isinstance(v, float)}, fh)
        out = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": workload.failed == 0, "attempted": workload.attempted,
                      "failed": workload.failed, "metrics": out}))
    return 0 if workload.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
