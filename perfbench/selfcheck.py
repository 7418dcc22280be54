#!/usr/bin/env python3
"""Self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

At sf0.001 it runs the shortest traced run of every workload (one unit,
or one pass over the query mix, each traced and bare) and asserts that
  - every unit matches the oracle,
  - every end-to-end and per-layer metric is printed by name with its unit,
  - a deliberately corrupted expected result makes the unit fail, so
    error_rate rises above 0 and the run is not reported correct.
Exits nonzero on the first failed assertion.
"""
import contextlib
import io
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def corrupt(name, exp):
    """Alters the first cell of a non-empty expected result."""
    if exp.empty:
        return exp
    col = sorted(exp.columns)[0]
    v = exp.at[0, col]
    exp[col] = exp[col].astype(object)
    exp.at[0, col] = (v + 1) if isinstance(v, (int, float)) and v == v else f"{v}~"
    return exp


def printed(result, trace, rec, failures):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.update(run.report(rec, failures, trace))
    return buf.getvalue()


def check_workload(workload):
    rec, failures = run.measure(workload, seed=1, seconds=0, trace=1,
                                sf=0.001, keep=True)
    try:
        assert not failures, f"{workload}: oracle mismatch {failures}"
        for trace, names in ((0, dict(run.END_TO_END)), (1, run.PER_LAYER_UNITS)):
            result = {}
            text = printed(result, trace, rec, failures)
            assert set(result["metrics"]) == set(names), (workload, trace)
            for name, unit in names.items():
                assert result["metrics"][name]["unit"] == unit, (workload, name)
                pattern = rf"^\s+{re.escape(name)}\s+\S+ {re.escape(unit)}\b"
                assert re.search(pattern, text, re.M), f"{workload}: {name} not printed"
        for name in ("write_amp", "error_rate"):
            assert re.search(rf"^\s+{name}\s+\S+ ", text, re.M), name
        bad = run.check(rec, rec["out"], rec["fixture"], tamper=corrupt)
        assert bad, f"{workload}: a corrupted expected result passed"
        result = {}
        text = printed(result, 0, rec, bad)
        error_rate = float(re.search(r"error_rate\s+(\S+)", text).group(1))
        assert error_rate > 0 and not result["correct"], workload
    finally:
        shutil.rmtree(os.path.dirname(rec.get("out", "")), ignore_errors=True)
    print(f"selfcheck {workload}: ok ({len(rec['units']) // 2} unit(s), each traced and bare, "
          f"{len(run.END_TO_END)} end-to-end and {len(run.PER_LAYER_UNITS)} "
          f"per-layer metrics, corrupted result caught)")


if __name__ == "__main__":
    for w in run.WORKLOADS:
        check_workload(w)
    print("selfcheck: all workloads ok")
