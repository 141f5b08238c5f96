"""Benchmark entry point.

    python3 perfbench/run.py --workload phase11_extract --seed 1 --seconds 1 --trace 0

Set-up: start a ``local[nproc]`` session, generate the workload's inputs
from the seed, and compute the expected outputs.  Then operations run back
to back (closed loop, one client) for ``--seconds``, at least one, and
every output is checked between operations.  The first operation is the
session's first: a site's one extraction or a curation job's one pass in
a fresh JVM.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first runs the
same command with ``--trace 0`` in a child process, then repeats the run
with the Spark event log on and spans around every call into the package;
it prints per-layer metrics parsed from the log, and the traced median
operation time against the child's.  The last stdout line is one JSON
object with the metrics ``BENCHMARK.json`` lists.  All files live under
``.bench_work/`` in the directory the command runs from, and are deleted
at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 1  # operations in the timed window, however short --seconds is


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; below 11
    samples there is none, and the maximum is reported."""
    n = len(values)
    if n < 11:
        return max(values), "max"
    p = math.floor(100 * (n - 10) / n)
    return percentile(values, p), f"p{p}"


# ---------------------------------------------------------------------------
# process tree: memory sampling and shutdown
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    Python workers (live, or reaped by a live process of the tree)."""
    me = os.getpid()
    return sum(cpu_seconds(p) for p in [me] + descendants(me))


def steal_seconds() -> float:
    """Host-wide CPU time stolen from this machine by its hypervisor."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled every 100 ms while active."""

    def __init__(self) -> None:
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.1):
            if self._on.is_set():
                self.peak = max(self.peak, sum(rss_bytes(p) for p in descendants(me)))

    def active(self, on: bool) -> None:
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure to exit is handled by kill
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.spark = None
        # failed checks outside any one operation: expected values and the
        # traced run's output digest; each run with any of them counts one
        # failure
        self.run_problems: list[str] = []
        self.tracer = None
        self.next_op = 0

    def start_session(self, log_dir: str | None) -> float:
        """Start the session; with ``log_dir``, the Spark event log goes
        there.  Returns the seconds it took."""
        from covid19i2b2_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if log_dir:
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               driver_memory="2g", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t


def run_ops(wl, bench, seconds: float, min_ops: int, sampler: RssSampler | None = None):
    """Closed loop: the next operation starts when the previous one and
    its checks are done; stops after ``seconds`` and ``min_ops``."""
    from workloads import OpResult

    results = []
    if sampler:
        sampler.active(True)
    end, steal = time.perf_counter() + seconds, steal_seconds()
    while time.perf_counter() < end or len(results) < min_ops:
        i, t, cpu = bench.next_op, time.perf_counter(), tree_cpu_seconds()
        bench.next_op += 1
        try:
            with bench.tracer.span("op", op=i):
                res = wl.op(i)
                with bench.tracer.span("bench.check", op=i):
                    wl.check(i, res)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            res = OpResult(seconds=time.perf_counter() - t, out_dir=os.path.join(bench.work, "none"),
                           problems=[f"op{i} raised {exc!r}"])
        res.cpu_s = tree_cpu_seconds() - cpu
        results.append(res)
        shutil.rmtree(res.out_dir, ignore_errors=True)
    if sampler:
        sampler.active(False)
    print(f"ops: {' '.join(f'{r.seconds:.3f}' for r in results)} s, cpu "
          f"{' '.join(f'{r.cpu_s:.2f}' for r in results)} s, host steal "
          f"{steal_seconds() - steal:.2f} s", file=sys.stderr)
    ops = {s.sid for s in bench.tracer.spans if s.name == "op"}
    walls: dict[str, float] = {}
    for s in bench.tracer.spans:
        if s.parent in ops:
            walls[s.name] = walls.get(s.name, 0.0) + s.wall
    print("spans: " + ", ".join(f"{k} {v:.2f} s" for k, v in walls.items()), file=sys.stderr)
    return results


def generate(wl, bench) -> float:
    """Generate the inputs; returns the seconds it took."""
    t = time.perf_counter()
    wl.generate(os.path.join(bench.work, "input"))
    return time.perf_counter() - t


def end_to_end(wl, results, setup_s: float, peak_rss: int, attempted: int, failed: int) -> dict:
    times = [r.seconds for r in results]
    t_tail, label = tail(times)
    ops = len(results)
    op_p50 = statistics.median(times)
    return {
        "setup_s": (setup_s, "s", 1, "value"),
        "op_p50_s": (op_p50, "s", ops, "p50"),
        "op_tail_s": (t_tail, "s", ops, label),
        "op_cpu_s": (statistics.median(r.cpu_s for r in results), "s", ops, "p50"),
        "ops_per_s": (ops / sum(r.seconds for r in results), "1/s", ops, "mean"),
        "rows_per_s": (wl.input_rows / op_p50, "1/s", ops, "p50"),
        "peak_rss_mb": (peak_rss / 2**20, "MB", ops, "max"),
        "disk_bytes_per_input_byte": (
            statistics.median(r.out_bytes for r in results) / wl.input_bytes, "1", ops, "p50"),
        "ok_frac": (1 - failed / attempted, "1", attempted, "mean"),
        "fail_frac": (failed / attempted, "1", attempted, "mean"),
    }


def untraced_run(args) -> tuple[float, str | None]:
    """(median operation time, output digest) of the same run with
    tracing off, in a child process: its own JVM, so both runs start
    equally cold, and its outputs must equal the traced run's."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=150, check=False)
    sys.stderr.write(child.stderr)
    if child.returncode:
        raise RuntimeError(f"the untraced run exited with code {child.returncode}")
    digests = [ln.split(":", 1)[1].strip() for ln in child.stderr.splitlines()
               if ln.startswith("output digest:")]
    p50 = json.loads(child.stdout.strip().splitlines()[-1])["metrics"]["op_p50_s"]["value"]
    return p50, (digests[-1] if digests else None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import covid19i2b2_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    import workloads
    from spans import EventLog, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    plain_p50, plain_digest = untraced_run(args) if args.trace else (None, None)

    work = os.path.join(os.getcwd(), ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # keep every temporary file of Python, both JVMs and Spark inside the work dir
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = len(os.sched_getaffinity(0))

    bench = Bench(args.seed, work, cores)
    wl = workloads.WORKLOADS[args.workload](bench)
    sampler = RssSampler()
    try:
        session_s = bench.start_session(os.path.join(work, "eventlog") if args.trace else None)
        bench.tracer = Tracer(sc=bench.spark.sparkContext if args.trace else None)
        generate_s = generate(wl, bench)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        print(f"setup: session {session_s:.2f} s, generate {generate_s:.2f} s, prepare "
              f"{prepare_s:.2f} s; inputs {wl.input_rows} rows, {wl.input_bytes} bytes, "
              f"digest {wl.input_digest}", file=sys.stderr)
        results = run_ops(wl, bench, args.seconds, MIN_OPS, sampler)
        digest = wl.output_digest()
        print(f"output digest: {digest}", file=sys.stderr)
        if plain_digest is not None and digest != plain_digest:
            bench.run_problems.append(f"outputs differ between two runs of one seed: "
                                        f"{plain_digest} then {digest}")
    finally:
        sampler.close()
        stop_spark(bench.spark)

    # the set-up and run-level checks count as one more attempt
    problems = list(bench.run_problems) + [p for r in results for p in r.problems]
    attempted = 1 + len(results)
    failed = (1 if bench.run_problems else 0) + sum(1 for r in results if r.problems)
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)

    if args.trace:
        import layers

        log = EventLog.read(os.path.join(work, "eventlog"))
        metrics = layers.per_layer(
            wl, bench.tracer, log, results,
            {"session.get_spark.wall_s": session_s, "setup.generate_s": generate_s,
             "setup.prepare_s": prepare_s},
            statistics.median(r.seconds for r in results) / plain_p50 - 1,
        )
        for name, (value, unit) in metrics.items():
            print(f"{args.workload} {name} = {value:.6g} {unit} (n={len(results)} traced ops, mean per op)")
        wanted = spec["per_layer"]
    else:
        metrics = end_to_end(wl, results, session_s + generate_s + prepare_s, sampler.peak,
                             attempted, failed)
        for name, (value, unit, n, label) in metrics.items():
            print(f"{args.workload} {name} = {value:.6g} {unit} (n={n}, {label})")
        if results[0].dup_recall is not None:
            print(f"{args.workload} dup_recall = {statistics.median(r.dup_recall for r in results):.4f} "
                  f"dup_precision = {statistics.median(r.dup_precision for r in results):.4f}")
        wanted = spec["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)
    out = {m["name"]: {"value": metrics[m["name"]][0], "unit": metrics[m["name"]][1]} for m in wanted}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
