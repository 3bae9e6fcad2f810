"""Benchmark of the hiveberg_spark engine: one closed-loop client runs a
workload's operations pass after pass for a fixed time and prints one
JSON line of metrics.

    python3 perfbench/run.py --workload lake_scan --seed 1 --seconds 1 --trace 0

Each operation is timed from the call into the engine until its whole
result is on the driver (`DataFrame.toArrow()`, so every output column
is computed); the collected result is then checked outside the timed
region. `--trace 1` reports per-layer metrics instead of end-to-end
ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

MAX_CPUS = 4
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # an exported checkout: git would look in parent directories
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def isolate(scratch: str, cpus: int) -> str:
    """Point every temporary path of the engine, Spark and Python at the
    run's own directory; return the directory the engine uses as /tmp."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_TMP=tmp,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return tmp


def stop_engine(spark) -> None:
    """Stop Spark and its JVM, and wait until the process tree is gone."""
    import procfs

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procfs.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procfs.tree()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Runner:
    """Runs passes of a workload's operations and keeps their timings."""

    def __init__(self, workload, tracer=None):
        self.w = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.lat = {"read": [], "commit": [], "stream": []}
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []

    def run_op(self, op, i: int):
        from pyspark.sql import DataFrame

        tr = self.tracer
        df = None
        t0 = time.perf_counter()
        if tr:
            with tr.op(op, i):
                with tr.phase("construct"):
                    out = op.call()
                t1 = time.perf_counter()
                if isinstance(out, DataFrame):
                    with tr.phase("action"):
                        df, out = out, out.toArrow()
        else:
            out = op.call()
            t1 = time.perf_counter()
            if isinstance(out, DataFrame):
                out = out.toArrow()
        t2 = time.perf_counter()
        if tr:
            tr.after_op(op, i, df, out, t1 - t0, t2 - t1)
        return out, t2 - t0

    def one_pass(self, i: int, measured: bool) -> None:
        import procfs

        ops = self.w.pass_ops(i)
        if self.tracer:
            self.tracer.begin_pass(i, self.w.table_location())
        t0, busy, cpu = time.perf_counter(), 0.0, 0.0
        for op in ops:
            self.attempted += measured
            cpu0 = procfs.tree_cpu_s()
            try:
                out, dt = self.run_op(op, i)
            except Exception as e:  # an operation's failure is counted, the run goes on
                self.failed += measured
                log(f"pass {i} {op.name} FAILED: {type(e).__name__}: {str(e)[:400]}")
                continue
            finally:
                cpu += procfs.tree_cpu_s() - cpu0
            busy += dt
            log(f"pass {i} {op.name}: {dt:.3f} s")
            if not measured:
                continue  # the warm-up pass is not checked
            c = time.perf_counter()
            if self.tracer:
                with self.tracer.paused():
                    problem = op.check(out)
            else:
                problem = op.check(out)
            if problem:
                self.failed += 1
                log(f"pass {i} {op.name} WRONG: {problem}")
            else:
                self.lat[op.kind].append(dt)
            t0 += time.perf_counter() - c  # checks are not part of the pass
        wall = time.perf_counter() - t0
        if self.tracer and measured:
            self.tracer.end_pass(i, wall, self.w)
        self.w.end_pass(i)
        if measured:
            self.pass_s.append(wall)
            self.pass_cpu_s.append(cpu)
        log(f"pass {i}{'' if measured else ' (warm-up)'}: {wall:.2f} s wall, "
            f"{busy:.2f} s in ops, {cpu:.2f} s cpu")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # a terminated run still stops the engine and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hiveberg_spark", "__init__.py")):
        log(f"the engine package hiveberg_spark is not in {ROOT}")
        return 2
    import procfs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    # half the cores: the rest stay free for the JVM's compiler and GC
    # threads and the Python driver, which otherwise compete with tasks
    # (on 4 cores, local[4] passes ran 15% slower and twice as noisy)
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0)) // 2))
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "commit": git_commit(),
            "start": time.time(), "loadavg_start": os.getloadavg()}
    runs = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(runs, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(scratch)
    spark = None
    try:
        tmp = isolate(scratch, cpus)
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(scratch, tmp)
        from hiveberg_spark import registry
        from hiveberg_spark import session

        registry.load_all()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if tracer:
            conf.update(tracer.spark_conf())
            tracer.wrap_engine()
        t0 = time.perf_counter()
        spark = session.get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                                  extra_conf=conf)
        session_s = time.perf_counter() - t0
        if tracer:
            tracer.attach(spark, session_s)
        w = WORKLOADS[args.workload](spark, scratch, args.seed)
        w.generate()
        w.build()
        runner = Runner(w, tracer)
        runner.one_pass(0, measured=False)  # warm-up: caches fill, code is compiled
        setup_s = time.perf_counter() - t_start
        log(f"set-up {setup_s:.1f} s (session {session_s:.1f} s)")
        # A traced run makes one untraced pass in which the JVM settles,
        # then alternates untraced and traced passes, ending untraced:
        # U, U, T, U, ... Each traced pass is compared with the untraced
        # passes on either side, so the JVM's warming over the run is not
        # counted as tracing cost.
        t_measure, n = time.perf_counter(), 0
        while (time.perf_counter() - t_measure < args.seconds or n == 0
               or (tracer and (n < 4 or n % 2 == 1))):
            if tracer:
                tracer.active = n >= 2 and n % 2 == 0
            runner.one_pass(1 + n, measured=True)
            n += 1
        rss = sum(v["peak_rss_mb"] for v in procfs.snapshot().values())
        table_mb = w.table_bytes() / 2**20
        if tracer:
            tracer.before_stop(spark)
        stop_engine(spark)
        spark = None
        info.update(end=time.time(), loadavg_end=os.getloadavg(), passes=len(runner.pass_s))
        print(json.dumps({"run": info}), flush=True)
        if tracer:
            metrics = tracer.metrics()
            tracer.write_spans(os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        else:
            commits = runner.lat["commit"] or w.setup_commit_s
            reads = runner.lat["read"]
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(runner.pass_s), "s"),
                "cpu_s": (statistics.median(runner.pass_cpu_s), "s"),
                # a run has 6-16 reads and 7-10 commits, too few for a p90
                # with ten samples beyond it. Reads are different operations:
                # their median jumps between the two nearest the middle, so
                # reads report their mean. 0 when every operation of a kind
                # failed (the run is then not correct)
                "read_mean_s": (statistics.mean(reads) if reads else 0.0, "s"),
                "commit_p50_s": (statistics.median(commits) if commits else 0.0, "s"),
                "peak_rss_mb": (rss, "MB"),
                "table_mb": (table_mb, "MB"),
            }
        # an operation that raised is as wrong as one whose result is wrong
        correct = runner.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": round(v, 6), "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
