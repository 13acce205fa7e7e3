"""Benchmark harness for gdal_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1> [--size full|tiny]

Run from the repository root.  One driver process, one client, a
closed loop: each pass calls every operator of the workload in turn
and the next pass starts when the last one ends.  Spark runs as
``local[<cores>]``, with every scratch file under ``.perfbench_run/``.

The run has three phases:

1. set-up (``setup_s``): session start, package shipping, input
   generation, and one untimed pass in which every operator's output
   is collected for checking;
2. timed passes for ``--seconds`` (at least two), every action a
   ``noop`` sink or a real writer so no payload column is pruned;
   each pass is timed on the wall clock and in CPU seconds of the
   whole process tree (driver, JVM, Python workers);
3. checks against references computed outside the engine.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, tags each job with the span that started it and
prints the per-layer metrics (see README.md).  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    Tracer, covered, job_intervals, read_event_log, span_metrics,
)
from perfbench.workloads import WORKLOADS, noop  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "driver.build_s": "s", "driver.plan_jobs": "count",
    "driver.gap_s": "s",
    "jvm.exec_s": "s", "jvm.jobs": "count", "jvm.stages": "count",
    "jvm.tasks": "count", "jvm.task_s": "s", "jvm.cpu_s": "s",
    "jvm.shuffle_bytes": "bytes", "jvm.task_skew": "ratio",
    "python.stages": "count", "python.start_s": "s",
    "python.bytes": "bytes",
    "output.bytes": "bytes", "output.files": "count",
    "ops.p50_s": "s", "ops.p90_s": "s", "memory.peak_rss_mb": "MB",
    "trace.iter_s": "s", "trace.attributed": "ratio",
}
SETTLE_S = 1.0
# the JIT is still compiling during the first timed passes; a median
# over two or more keeps one pass from deciding the result
MIN_PASSES = 2
# a run that has not finished by then is killed with everything it
# started, and exits without a result
DEADLINE_S = 170.0
# per-operator metrics of a traced run (trace file and stdout table)
OP_METRICS = {
    "build_s": "s", "plan_jobs": "count", "exec_s": "s", "jobs": "count",
    "shuffle_bytes": "bytes", "task_skew": "ratio",
    "python_stages": "count", "python_start_s": "s",
    "python_bytes": "bytes", "out_bytes": "bytes", "files": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb the first operator's checked output "
                        "(tests that the checks catch a wrong result)")
    return p.parse_args(argv)


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


# --- process tree --------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pids) -> float:
    """CPU seconds (user + system) of ``pids`` and of the children they
    have reaped; over a whole process tree each CPU second is counted
    once, also for Python workers that exited."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_cpu_s() -> float:
    me = os.getpid()
    return cpu_s([me] + descendants(me))


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period,),
                                        daemon=True)

    def _loop(self, period: float) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(period)

    def sample(self, me: int) -> None:
        self.peak = max(self.peak, rss_mb([me] + descendants(me)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all
    of them to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            if jvm.stdin:
                jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001
                jvm.kill()
                jvm.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def abort(work: str, why: str) -> None:
    """Kill everything this run started and exit without a result."""
    print(f"perfbench: {why}; stopping", file=sys.stderr, flush=True)
    for pid in reversed(descendants(os.getpid())):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def spark_env(work: str, nproc: int, trace: bool) -> None:
    """Point every file Spark, the JVM and Python write at ``work``."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # no JVM perf-data files under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    java = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
            " -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(args) + f' --driver-java-options "{java}" pyspark-shell')


# --- the run -------------------------------------------------------------

def dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return size, files


def same(a, b) -> bool:
    if hasattr(a, "equals"):
        return a.equals(b)
    return a == b


class Run:
    def __init__(self, args, spark, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer(spark.sparkContext, tag=bool(args.trace))
        self.wl = WORKLOADS[args.workload](spark, args.seed, args.size,
                                           work)
        self.attempted = 0
        self.errors: dict[str, int] = {}
        self.executions: dict[str, int] = {}
        self.outputs: list[dict] = []  # writer output per timed op run
        self.pass_cpu: list[float] = []  # process-tree CPU s per pass
        self._out = 0

    def _outdir(self) -> str:
        self._out += 1
        out = os.path.join(self.work, "out", f"o{self._out}")
        os.makedirs(out)
        return out

    def _fail(self, op, exc: BaseException) -> None:
        self.errors[op.name] = self.errors.get(op.name, 0) + 1
        print(f"perfbench: {op.name} raised {type(exc).__name__}: {exc}",
              file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def check_pass(self, iteration: int, ops) -> dict:
        """Run ``ops`` once, collecting what their checks need."""
        values = {}
        for op in ops:
            self.attempted += 1
            try:
                with self.tracer.span(op.name, "op", iteration) as s:
                    with self.tracer.span(op.name, "build", iteration, s):
                        built = op.build()
                    with self.tracer.span(op.name, "exec", iteration, s):
                        if op.write:
                            out = self._outdir()
                            values[op.name] = op.value(
                                out, op.write(built, out))
                        else:
                            values[op.name] = op.value(built)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                self._fail(op, e)
        return values

    def timed_pass(self, iteration: int) -> None:
        outs = []
        cpu0 = tree_cpu_s()
        with self.tracer.span("pass", "iter", iteration) as ps:
            for op in self.wl.ops:
                self.attempted += 1
                self.executions[op.name] = \
                    self.executions.get(op.name, 0) + 1
                with self.tracer.span(op.name, "op", iteration, ps) as s:
                    try:
                        with self.tracer.span(op.name, "build", iteration,
                                              s):
                            built = op.build()
                        with self.tracer.span(op.name, "exec", iteration,
                                              s):
                            if op.write:
                                out = self._outdir()
                                op.write(built, out)
                                outs.append((op.name, out))
                            else:
                                noop(built)
                    except Exception as e:  # noqa: BLE001
                        self._fail(op, e)
        self.pass_cpu.append(tree_cpu_s() - cpu0)
        for name, out in outs:
            size, files = dir_usage(out)
            self.outputs.append({"iter": iteration, "op": name,
                                 "bytes": size, "files": files})
            shutil.rmtree(out, ignore_errors=True)

    def check(self, values: dict, again: dict) -> dict[str, list]:
        wrong: dict[str, list] = {}
        for op in self.wl.ops:
            if op.name not in values:
                continue  # raised: already counted
            try:
                problems = op.check(values[op.name])
            except Exception as e:  # noqa: BLE001
                problems = [f"check raised {type(e).__name__}: {e}"]
            if op.name in again and not same(values[op.name],
                                             again[op.name]):
                problems.append("output differs between passes")
            if problems:
                wrong[op.name] = problems
        return wrong


def corrupt(values: dict, first: str) -> None:
    v = values.get(first)
    if isinstance(v, dict):
        key = sorted(v)[0]
        v[key] = [1] if not isinstance(v[key], (int, float)) else v[key] + 1
    elif isinstance(v, list):
        values[first] = v[1:] if v else [0]
    elif v is not None and hasattr(v, "iloc"):
        values[first] = v.iloc[1:]


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, -(-len(s) * q // 100))
    return s[int(k) - 1]


def pass_walls(run: Run) -> list[float]:
    """Wall time of every timed pass."""
    return [s.seconds for s in run.tracer.spans
            if s.iter > 0 and s.kind == "iter"]


def end_to_end(run: Run, setup_s: float) -> dict:
    return {"setup_s": setup_s,
            "pass_cpu_s": statistics.median(run.pass_cpu)}


def op_latencies(run: Run) -> list[float]:
    return [s.seconds for s in run.tracer.spans
            if s.iter > 0 and s.kind == "op"]


def per_layer(run: Run, log: dict, peak: float) -> tuple[dict, dict]:
    """Workload-level layer split and the per-operator table, each the
    median over timed passes, plus operator latency percentiles and
    the peak memory of the run."""
    by_span = span_metrics(log)
    jobs = job_intervals(log)
    spans = [s for s in run.tracer.spans if s.iter > 0]
    zero = dict.fromkeys(OP_METRICS, 0.0)
    layer_rows, op_rows = [], {}
    for p in (s for s in spans if s.kind == "iter"):
        row = dict.fromkeys(PER_LAYER, 0.0)
        ops = {s.id: dict(zero, name=s.name) for s in spans
               if s.iter == p.iter and s.kind == "op"}
        for s in spans:
            if s.iter != p.iter or s.kind not in ("build", "exec"):
                continue
            m = by_span.get(s.id, {})
            o = ops[s.parent]
            if s.kind == "build":
                o["build_s"] += s.seconds
                o["plan_jobs"] += m.get("jobs", 0)
            else:
                o["exec_s"] += s.seconds
                o["jobs"] += m.get("jobs", 0)
            for k in ("shuffle_bytes", "python_stages", "python_start_s",
                      "python_bytes"):
                o[k] += m.get(k, 0.0)
            o["task_skew"] = max(o["task_skew"], m.get("task_skew", 0.0))
            row["jvm.stages"] += m.get("stages", 0)
            row["jvm.tasks"] += m.get("tasks", 0)
            row["jvm.task_s"] += m.get("task_s", 0.0)
            row["jvm.cpu_s"] += m.get("cpu_s", 0.0)
        for out in run.outputs:
            if out["iter"] == p.iter:
                for o in ops.values():
                    if o["name"] == out["op"]:
                        o["out_bytes"] += out["bytes"]
                        o["files"] += out["files"]
        for o in ops.values():
            row["driver.build_s"] += o["build_s"]
            row["driver.plan_jobs"] += o["plan_jobs"]
            row["jvm.exec_s"] += o["exec_s"]
            row["jvm.jobs"] += o["jobs"]
            row["jvm.shuffle_bytes"] += o["shuffle_bytes"]
            row["jvm.task_skew"] = max(row["jvm.task_skew"], o["task_skew"])
            row["python.stages"] += o["python_stages"]
            row["python.start_s"] += o["python_start_s"]
            row["python.bytes"] += o["python_bytes"]
            row["output.bytes"] += o["out_bytes"]
            row["output.files"] += o["files"]
            for key in (o["name"], o["name"].split(".", 1)[0] + ".*"):
                agg = op_rows.setdefault(key, {}).setdefault(p.iter,
                                                             dict(zero))
                for k in OP_METRICS:
                    agg[k] = (max(agg[k], o[k]) if k == "task_skew"
                              else agg[k] + o[k])
        row["driver.gap_s"] = p.seconds - covered(jobs, p.start, p.end)
        row["trace.iter_s"] = p.seconds
        row["trace.attributed"] = sum(
            s.seconds for s in spans
            if s.iter == p.iter and s.kind == "op") / p.seconds
        layer_rows.append(row)
    lat = op_latencies(run)
    for row in layer_rows:
        row.update({"ops.p50_s": percentile(lat, 50),
                    "ops.p90_s": percentile(lat, 90),
                    "memory.peak_rss_mb": peak})
    layers = {k: statistics.median(r[k] for r in layer_rows)
              for k in PER_LAYER}
    table = {name: {k: statistics.median(r[k] for r in rows.values())
                    for k in OP_METRICS}
             for name, rows in op_rows.items()}
    if len({n.split(".", 1)[0] for n in table if not n.endswith(".*")}) < 2:
        table = {n: v for n, v in table.items() if not n.endswith(".*")}
    return layers, table


def result_line(correct, attempted, failed, metrics, units) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    spark_env(work, nproc, bool(args.trace))
    load_start = loadavg()
    watchdog = threading.Timer(
        DEADLINE_S, abort, args=(work, f"no result after {DEADLINE_S:.0f} s"))
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM,
                  lambda *_: abort(work, "terminated"))

    from gdal_spark.session import get_spark

    spark = None
    try:
        with RssSampler() as rss:
            spark = get_spark(f"perfbench-{args.workload}", master=master,
                              shuffle_partitions=nproc)
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.perf_counter()
            run = Run(args, spark, work)
            t_inputs = time.perf_counter()
            values = run.check_pass(0, run.wl.ops)
            setup_s = time.perf_counter() - T_START
            phases = (f"session={t_session - T_START:.2f}s"
                      f" inputs={t_inputs - t_session:.2f}s"
                      f" first_pass={T_START + setup_s - t_inputs:.2f}s")

            # let the JIT compile queue and GC left by the first pass
            # drain before timing
            time.sleep(SETTLE_S)
            # whole passes, at least MIN_PASSES, until --seconds have
            # passed
            t_loop = time.perf_counter()
            it = 0
            while (it < MIN_PASSES
                   or time.perf_counter() - t_loop < args.seconds):
                it += 1
                run.timed_pass(it)
            again = run.check_pass(-1, [op for op in run.wl.ops
                                        if op.repeat])
            if args.corrupt:
                corrupt(values, run.wl.ops[0].name)
            wrong = run.check(values, again)
            app_id = spark.sparkContext.applicationId
            stop_spark(spark)
            spark = None
            rss.sample(os.getpid())
        metrics = end_to_end(run, setup_s)
        layers = table = None
        if args.trace:
            layers, table = per_layer(
                run, read_event_log(os.path.join(work, "eventlog")),
                rss.peak)
    finally:
        if spark is not None:
            stop_spark(spark)
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(run.errors.values()) + sum(
        run.executions.get(n, 0) + 1 for n in wrong)
    correct = not wrong and not run.errors
    load_end = loadavg()

    print(f"perfbench: workload={args.workload} seed={args.seed}"
          f" size={args.size} master={master} nproc={nproc}"
          f" trace={args.trace}")
    print(f"perfbench: loadavg start={load_start} end={load_end}")
    print(f"perfbench: setup {phases}")
    walls = pass_walls(run)
    print("perfbench: pass wall_s=" + ",".join(f"{w:.3f}" for w in walls)
          + " cpu_s=" + ",".join(f"{c:.2f}" for c in run.pass_cpu))
    lat = op_latencies(run)
    print(f"perfbench: passes={it} ops/pass={len(run.wl.ops)}"
          f" attempted={run.attempted} failed={failed}"
          f" fail_ratio={failed / run.attempted:.4f}")
    print(f"perfbench: op latency n={len(lat)} p50={percentile(lat, 50):.4f}s"
          f" p90={percentile(lat, 90):.4f}s; peak_rss={rss.peak:.0f}MB")
    for name, problems in wrong.items():
        print(f"perfbench: WRONG {name}: {'; '.join(problems)}")
    wall = statistics.median(walls)
    print(f"perfbench: iter_s={wall:.4f}s (median wall time of a pass)"
          f" items_per_s={run.wl.items / wall:.6g}")
    for k, unit in END_TO_END.items():
        print(f"metric {k} {metrics[k]:.6g} {unit}")
    if args.trace:
        for name in sorted(table):
            print("op " + name + " " + " ".join(
                f"{k}={table[name][k]:.4g}" for k in OP_METRICS))
        for k, unit in PER_LAYER.items():
            print(f"layer {k} {layers[k]:.6g} {unit}")
        path = os.path.join(base, f"trace-{args.workload}-s{args.seed}.json")
        run.tracer.dump(path, {"workload": args.workload,
                               "seed": args.seed, "app_id": app_id,
                               "ops": table, "layers": layers,
                               "end_to_end": metrics})
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}")

    if args.trace:
        line = result_line(correct, run.attempted, failed, layers,
                           PER_LAYER)
    else:
        line = result_line(correct, run.attempted, failed, metrics,
                           END_TO_END)
    print(line, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
