"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. The comparison used by every check tells equal results from wrong,
   empty and all-NULL ones.
2. The timed action computes every output column: a column that fails
   when evaluated makes the timed operation fail, although `count()`
   on the same DataFrame succeeds because Catalyst prunes the column.
3. A wrong expected result (a registry oracle replaced by a wrong SQL)
   is counted as a failed operation, reported as `"correct": false`,
   and makes the command exit non-zero; the run line records load,
   timestamps, CPU count and commit.
4. An operation that raises is likewise a failed operation of an
   incorrect run with a non-zero exit.
5. In a directory holding only BENCHMARK.json and the benchmark's own
   files the command fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import run  # noqa: E402


def test_compare() -> None:
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25], "s": ["a", "b"]})
    assert checks.compare(want.iloc[::-1], want) is None
    assert checks.compare(want.assign(v=[0.5, 1.25 + 1e-12]), want) is None  # summation order
    assert "row 1" in checks.compare(want.assign(v=[0.5, 1.250001]), want)
    assert "rowcount" in checks.compare(want.iloc[:1], want)
    assert checks.compare(want.iloc[:0], want.iloc[:0]).startswith("vacuous")
    nulls = pd.DataFrame({"k": [None], "v": [None], "s": [None]})
    assert checks.compare(nulls, nulls).startswith("vacuous")
    print("ok compare")


def test_action_computes_pruned_column(scratch: str) -> None:
    from pyspark.sql import functions as F

    from workloads import Op

    run.isolate(scratch, 1)
    from hiveberg_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        df = spark.range(10).select(
            "id", F.when(F.col("id") >= 0, F.raise_error("column evaluated")).alias("boom"))
        assert df.count() == 10  # count() never evaluates `boom`
        runner = run.Runner(workload=None)
        try:
            runner.run_op(Op("boom", "read", lambda: df, lambda r: None), 0)
        except Exception as e:  # the engine's error type differs across versions
            assert "column evaluated" in str(e), e
        else:
            raise AssertionError("the timed action did not evaluate every column")
    finally:
        run.stop_engine(spark)
    print("ok timed action computes every column")


def _run_patched(patch: str) -> tuple[dict, dict]:
    """One lake_scan run whose registry is first changed by `patch`;
    returns its run line and result line after checking that it failed
    with exit code 1 and one failed operation per measured pass."""
    code = "\n".join([
        "import sys",
        f"sys.path[:0] = [{HERE!r}, {ROOT!r}]",
        "import run",
        "from hiveberg_spark import registry",
        "registry.load_all()",
        patch,
        "sys.exit(run.main(['--workload', 'lake_scan', '--seed', '1', '--seconds', '1',"
        " '--trace', '0']))",
    ])
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         timeout=600, cwd=ROOT)
    lines = out.stdout.strip().splitlines()
    result, info = json.loads(lines[-1]), json.loads(lines[-2])["run"]
    assert out.returncode == 1, (out.returncode, out.stderr[-2000:])
    assert result["correct"] is False, result
    assert result["failed"] == info["passes"], (result, info)
    return info, result


def test_wrong_expected_fails() -> None:
    info, _ = _run_patched(
        "q = 'q6_forecast_revenue'\n"
        "registry.ORACLES[q] = ('SELECT revenue + 1 AS revenue, n_items FROM ('"
        " + registry.ORACLES[q] + ')')")
    for key in ("loadavg_start", "loadavg_end", "start", "end", "cpus", "commit"):
        assert key in info, key
    print("ok wrong expected result fails the run")


def test_raising_op_fails() -> None:
    _run_patched(
        "def broken(spark, sf_dir):\n"
        "    raise RuntimeError('broken on purpose')\n"
        "registry.QUERIES['q6_forecast_revenue'] = broken")
    print("ok an operation that raises fails the run")


def test_without_engine(scratch: str) -> None:
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    cmd = json.load(open(os.path.join(bare, "BENCHMARK.json")))["command"]
    out = subprocess.run(cmd + ["--workload", "lake_scan", "--seed", "1", "--seconds", "1",
                                "--trace", "0"],
                         capture_output=True, text=True, timeout=180, cwd=bare)
    assert out.returncode != 0 and '"metrics"' not in out.stdout, out
    print("ok no engine, no result")


def main() -> int:
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}-{int(time.time())}")
    os.makedirs(scratch)
    try:
        test_compare()
        test_without_engine(scratch)
        test_action_computes_pruned_column(scratch)
        test_wrong_expected_fails()
        test_raising_op_fails()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # a benchmark run is using it
    return 0


if __name__ == "__main__":
    sys.exit(main())
