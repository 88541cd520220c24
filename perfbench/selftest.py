#!/usr/bin/env python3
"""Benchmark self-test.

    python3 perfbench/selftest.py

1. Corrupted results must fail the correctness checks: a right bm25,
   phrase, snippet and veloci answer passes, the same answer with one
   score, doc or hit count changed fails, and curate counts that do not
   add up fail. (No Spark; a few seconds.)
2. A short pass of both workloads with ``--trace 0`` and ``--trace 1``
   (the full corpus, 4-s windows): each run must exit 0, report correct
   and give a value for exactly the metrics BENCHMARK.json names for
   that mode. (Four Spark runs; about five minutes.)
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from workload import TOP  # noqa: E402

SHORT_SECONDS = 4


def corrupted_results_fail() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_selftest-") as tmp:
        inputs = gen.make_inputs(3, tmp)
        oracle = check.Oracle(inputs.corpus_dir)
        try:
            terms = inputs.results[0]
            for op in ("bm25", "phrase", "snippet"):
                good = check.expected(oracle, op, terms, TOP)
                assert good, f"{op} {terms}: oracle found nothing"
                assert check.check_response(oracle, op, terms, TOP, good) is None
                bad = copy.deepcopy(good)
                bad[0][1] += 1  # one score off by one e4 unit
                assert check.check_response(oracle, op, terms, TOP, bad), op
                assert check.check_response(oracle, op, terms, TOP, good[1:] or []), op
            floor = check.veloci_floor(oracle, terms)
            hit = {"num_hits": floor, "data": [{"hit": {"id": 0}}]}
            assert check.check_response(oracle, "veloci", terms, TOP, hit) is None
            assert check.check_response(
                oracle, "veloci", terms, TOP, dict(hit, num_hits=floor - 1))
        finally:
            oracle.close()
        kinds = inputs.stats["rows_by_kind"]
        n = sum(kinds.values())
        kept = n - kinds["low_quality"]
        exact = kept - kinds["exact_dup"]
        good = {"input": n, "quality_kept": kept, "exact_survivors": exact,
                "neardup_removed": kinds["near_dup"],
                "blessed": exact - kinds["near_dup"] - 2}
        assert check.check_curate(good, 2, kinds) is None
        assert check.check_curate(dict(good, blessed=good["blessed"] + 1), 2, kinds)
        assert check.check_curate(dict(good, exact_survivors=exact + 1), 2, kinds)
    print("selftest: corrupted results fail the checks")


def short_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "5",
                "--seconds", str(SHORT_SECONDS), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                 timeout=600)
            assert out.returncode == 0, out.stderr[-2000:]
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] is True, out.stdout.strip().splitlines()[-2]
            assert res["failed"] == 0 and res["attempted"] >= 1, res
            got = res["metrics"]
            assert set(got) == want[trace], (w["name"], trace, set(got) ^ want[trace])
            assert all(set(v) == {"value", "unit"} and isinstance(v["value"], float)
                       for v in got.values()), got
            print(f"selftest: {w['name']} --trace {trace}: "
                  f"{len(got)} metrics, {res['attempted']} ops, correct")


if __name__ == "__main__":
    corrupted_results_fail()
    short_runs()
    print("selftest: ok")
