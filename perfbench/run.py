#!/usr/bin/env python3
"""Benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run is one fresh process driving a
``local[<cores>]`` session as a single closed-loop client:

1. set-up, repeated ``SETUPS`` times: import the package, build the
   session, load the query catalog, ship the package to the workers.
   The first set-up counts from process start and includes launching
   the JVM; each later one stops the session, drops the imported
   package and its shipped zip and does it all again in the same JVM;
2. input generation from ``--seed`` (untimed; the program only sees
   the files);
3. one cold pass, then warm passes until ``--seconds`` have elapsed
   and at least ``MIN_WARM_PASSES`` ran;
4. output checks, untimed.

Times are taken as wall-clock and as CPU time: that of the run's
processes, less the JVM's JIT compiler threads (counted on their own).
The gated time metrics are CPU time: on a shared host the wall-clock
figures follow the host's load (README.md), and are reported beside
them.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
interleaves untraced and traced warm passes, writes its spans and
per-op records to ``.bench_work/`` and prints the tracing overhead.
The exit code is non-zero if any output check fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

import metrics  # noqa: E402
from tracing import ExecCounts, Tracer  # noqa: E402
from workloads import PKG, WORKLOADS, Check  # noqa: E402

SETUPS = 7
# Warm passes: at least this many untraced ones, and as many as fit in
# --seconds. After the cold pass the JIT is still compiling (on a
# 4-core host the second warm pass uses ~3/4 of the first's CPU time),
# but how much it compiles follows the pass number closely, so the same
# passes compare across runs and commits. A traced run makes this many
# of each kind.
MIN_WARM_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started (the JVM, the Python workers), live or reaped.
    Time the host takes from the virtual CPUs (steal) is not in it."""
    ticks = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            f = Path(entry.path, "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile; its time is in its parent's
            continue
        # fields after the name: state ppid ... utime(11) stime cutime cstime(14)
        stats[int(entry.name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    total = 0
    for pid, (ppid, cpu) in stats.items():
        p = pid
        while p != me and p in stats and p > 1:
            p = stats[p][0]
        if p == me:
            total += cpu
    return total / ticks


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far.

    The gated CPU times leave this out: in the first passes the compiler
    does as much work as the program, and how much of it lands in which
    pass depends on when it gets to each method: over five runs on a
    quiet 4-core host the warm-pass total spread by 0.12 of its median
    and the rest by 0.03."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for task in os.scandir(f"/proc/{jvm_pid}/task"):
        try:
            raw = Path(task.path, "stat").read_text()
        except OSError:
            continue
        name, rest = raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(rest[11]) + int(rest[12])
    return total / ticks


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """The engine's session plus the set-up timings of each rebuild."""

    def __init__(self, cores: int, work: Path, trace: bool):
        self.cores = cores
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # A fixed young generation, so that the driver's peak RSS
            # follows the data the program keeps rather than the
            # collector's adaptive sizing (which moved it by +-25%
            # between identical runs).
            # The JIT's compiler threads live for the whole run, so their
            # CPU time can be read per thread (jit_cpu_s).
            "spark.driver.extraJavaOptions": "-Xmn384m -XX:-UseDynamicNumberOfCompilerThreads",
        }
        if trace:  # keep every job and stage of the run in the status store
            self.conf.update({"spark.ui.retainedJobs": "100000",
                              "spark.ui.retainedStages": "100000"})
        self.spark = None
        self.jvm = 0  # pid of the driver JVM
        self.qs = None
        self.setups: list[dict] = []

    def build(self, start: float | None = None) -> None:
        """One set-up; timed from ``start`` (a perf_counter value) if given."""
        t0, c0, j0 = time.perf_counter(), tree_cpu_s(), jit_cpu_s(self.jvm) if self.jvm else 0.0
        session = importlib.import_module(f"{PKG}.session")
        catalog = importlib.import_module(f"{PKG}.plans.catalog")
        runtime = importlib.import_module(f"{PKG}.runtime")
        t1 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=self.conf)
        t2 = time.perf_counter()
        self.qs = catalog.queries()
        t3 = time.perf_counter()
        runtime.ensure_workers_can_import(self.spark)
        t4 = time.perf_counter()
        c1 = tree_cpu_s()
        self.jvm = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        jit = jit_cpu_s(self.jvm) - j0
        self.setups.append({"setup_s": t4 - (t0 if start is None else start),
                            "setup_cpu_s": c1 - (c0 if start is None else 0.0) - jit,
                            "import_s": t1 - t0,
                            "get_spark_s": t2 - t1, "catalog_load_s": t3 - t2,
                            "ship_s": t4 - t3})

    def rebuild(self) -> None:
        self.spark.stop()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        for z in Path(tempfile.gettempdir()).glob(f"{PKG}_*.zip"):
            z.unlink()
        self.build()

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run_pass(workload, sess: Session, tracer: Tracer, pass_no: int, log: list) -> dict:
    """One pass over the workload's ops; returns its timing record."""
    rec = {"pass": pass_no, "traced": tracer.enabled, "ops": []}
    tracer.exec_delta()  # drop work done since the last traced pass
    t_pass, c_pass, j_pass = time.perf_counter(), tree_cpu_s(), jit_cpu_s(sess.jvm)
    with tracer.span("pass", pass_no=pass_no):
        for op in workload.ops(sess.spark, sess.qs, pass_no):
            o = {"name": op.name, "ok": False, "writes": op.writes}
            t0 = time.perf_counter()
            with tracer.span("op", op=op.name):
                try:
                    with tracer.span("construct"):
                        obj = op.construct()
                    t1 = time.perf_counter()
                    eager = tracer.exec_delta()
                    with tracer.span("write" if op.writes else "action"):
                        result = op.action(obj)
                    t2 = time.perf_counter()
                    o.update(ok=True, construct_s=t1 - t0, action_s=t2 - t1, result=result)
                except Exception:
                    t1 = t2 = time.perf_counter()
                    eager = ExecCounts()
                    log.append(f"pass {pass_no} op {op.name} failed:\n{traceback.format_exc()}")
            o["latency_s"] = t2 - t0
            if tracer.enabled:
                ex = tracer.exec_delta()
                o["eager_jobs"] = eager.jobs
                ex.add(eager)
                o["exec"] = ex
                o["persisted_rdds"] = tracer.persisted_rdds()
            rec["ops"].append(o)
    rec["seconds"] = time.perf_counter() - t_pass
    rec["jit_cpu_s"] = jit_cpu_s(sess.jvm) - j_pass
    rec["cpu_s"] = tree_cpu_s() - c_pass - rec["jit_cpu_s"]
    return rec


def main() -> int:
    since_start = process_age_s()
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / PKG / "__init__.py").is_file():
        print(f"error: run from a checkout root holding the {PKG} package", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    cores = len(os.sched_getaffinity(0))
    work = root / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # Every JVM the launcher starts keeps its temp files in the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the engine's default is sized for a 32-core host
    os.environ["PYSPARK_PYTHON"] = sys.executable

    log: list[str] = []
    sess = Session(cores, work, bool(args.trace))
    try:
        sess.build(start=t_main - since_start)
        for _ in range(SETUPS - 1):
            sess.rebuild()
        workload = WORKLOADS[args.workload](work, args.seed, args.size)
        tracer = Tracer(sess.spark, bool(args.trace))
        quiet = Tracer(sess.spark, False)

        passes = [run_pass(workload, sess, quiet, 0, log)]
        t_warm = time.perf_counter()
        n, done = 1, {False: 0, True: 0}
        # A traced run orders its warm passes untraced, traced, traced,
        # untraced, ..., so the JIT's speed-up over the passes falls on
        # both kinds alike.
        while (done[False] < MIN_WARM_PASSES or (args.trace and done[True] < MIN_WARM_PASSES)
               or time.perf_counter() - t_warm < args.seconds):
            traced = bool(args.trace) and n % 4 in (2, 3)
            passes.append(run_pass(workload, sess, tracer if traced else quiet, n, log))
            done[traced] += 1
            n += 1

        first: dict[str, object] = {}
        digests: dict[str, set] = {}
        for p in passes:
            for o in p["ops"]:
                if not o["ok"]:
                    continue
                first.setdefault(o["name"], o["result"])
                digests.setdefault(o["name"], set()).add(workload.digest(o["name"], o["result"]))
                o["written_bytes"] = workload.written_bytes(o["name"], o["result"])
        rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(sess.jvm)
        checks = workload.check(sess.spark, first)
        checks += [Check(f"{name}.same_across_passes", len(ds) == 1, f"{len(ds)} digests")
                   for name, ds in digests.items()]
        recall = workload.recall(first)
    except Exception:
        print(traceback.format_exc(), file=sys.stderr)
        return 3
    finally:
        if sess.spark is not None:
            sess.close()
        for sub in work.iterdir():  # inputs, outputs, temp and local dirs
            shutil.rmtree(sub, ignore_errors=True)

    for line in log:
        print(line, file=sys.stderr)
    for c in checks:
        print(f"[{'ok' if c.ok else 'FAIL'}] {c.name} {c.detail}"[:300])
    print(f"passes: cold {passes[0]['seconds']:.3f} s, warm "
          f"{[round(p['seconds'], 3) for p in passes[1:]]} s; cpu cold {passes[0]['cpu_s']:.2f} s, warm "
          f"{[round(p['cpu_s'], 2) for p in passes[1:]]} s, and JIT cold {passes[0]['jit_cpu_s']:.2f}, warm "
          f"{[round(p['jit_cpu_s'], 2) for p in passes[1:]]} s; peak RSS python "
          f"{rss_py:.0f} MB + jvm {rss_jvm:.0f} MB")
    print(f"set-ups: wall {[round(x['setup_s'], 3) for x in sess.setups]} s, cpu "
          f"{[round(x['setup_cpu_s'], 2) for x in sess.setups]} s")
    print("wall-clock, reported but not gated: " + json.dumps(
        {k: round(v, 4) for k, v in metrics.wall(workload, sess, passes).items()}))
    correct = all(c.ok for c in checks) and not log
    attempted = sum(len(p["ops"]) for p in passes if not p["traced"])
    failed = sum(1 for p in passes if not p["traced"] for o in p["ops"] if not o["ok"])
    if args.trace:
        out, extra = metrics.per_layer(workload, sess, passes, recall, cores)
        overhead = extra["trace_overhead_s"]
        print(f"trace overhead: traced run_s {extra['traced_run_s']:.4f} s - untraced run_s "
              f"{extra['untraced_run_s']:.4f} s = {overhead:+.4f} s")
        (work / "trace.json").write_text(json.dumps(
            {"workload": workload.name, "seed": args.seed, "metrics": out, **extra,
             "spans": tracer.span_records(), "checks": [c.__dict__ for c in checks]},
            indent=1, default=str) + "\n")
        print(f"per-layer record: {work / 'trace.json'}")
    else:
        out = metrics.end_to_end(workload, sess, passes, rss_py + rss_jvm)
        work.rmdir()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
