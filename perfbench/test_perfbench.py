"""The benchmark's own checks. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The end-to-end cases run the benchmark itself (about a minute per
workload on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layertrace  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, sf_dir  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
CHEAP_OP = "s1_list_prefix_page"


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_corrupted_results_count_as_failed():
    oracle.build([CHEAP_OP], sf_dir(), threads=2)
    want = oracle.expected([CHEAP_OP], sf_dir())[CHEAP_OP]
    assert len(want) > 1
    changed = want.copy()
    col = next(c for c in want.columns if want[c].dtype.kind in "iu")
    changed.loc[0, col] += 1
    dropped = want.iloc[1:].copy()
    checker = oracle.Checker({CHEAP_OP: want})
    results = [
        (CHEAP_OP, want.copy()),
        (CHEAP_OP, changed),
        (CHEAP_OP, dropped),
        # a repeat of a checked frame gets the same verdict
        (CHEAP_OP, changed.copy()),
        (CHEAP_OP, want.copy()),
    ]
    failed = run.check_results(checker, results)
    assert [r for _, r in failed] == [
        "value multiset differs",
        f"rows {len(want) - 1} vs {len(want)}",
        "value multiset differs",
    ]


def test_parse_metric_value():
    block = (
        "total (min, med, max (stageId: taskId))\n"
        "4.2 s (966 ms, 1.1 s, 1.1 s (stage 0.0: task 3))"
    )
    assert layertrace.parse_metric_value(block) == 4.2
    assert layertrace.parse_metric_value("100,000") == 100000
    assert layertrace.parse_metric_value("782.9 KiB") == 782.9 * 1024
    assert layertrace.parse_metric_value("41 ms") == pytest.approx(0.041)


def test_self_time_subtracts_direct_children():
    spans = [
        layertrace.Span("a", 0.0, 10.0, None, 1),
        layertrace.Span("b", 1.0, 4.0, 0, 1),
        layertrace.Span("c", 2.0, 3.0, 1, 1),
    ]
    assert layertrace.self_times(spans) == [7.0, 2.0, 1.0]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_op_matches_its_oracle(workload):
    res = _bench(workload, trace=0)
    assert res["failed"] == 0 and res["correct"] is True
    # the cold pass plus the minimum of warm passes
    assert res["attempted"] >= (1 + run.MIN_WARM_PASSES) * len(WORKLOADS[workload].ops)
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0


def test_trace_is_consistent():
    """Per traced op: the status store's jobs of the op's job group ran
    inside the op's own timer, and the module self times fit in the
    build phase. Across both workloads, every layer is called."""
    called = set()
    for workload in sorted(WORKLOADS):
        res = _bench(workload, trace=1)
        assert res["failed"] == 0
        assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
        called |= {
            layer for layer in layertrace.LAYER_NAMES
            if res["metrics"][f"{layer}.calls"]["value"] > 0
        }
        assert res["metrics"]["spark.jobs"]["value"] > 0
        dump = json.loads((ROOT / ".perfbench" / f"spans-{workload}.json").read_text())
        spans = [layertrace.Span(**s) for s in dump["spans"]]
        selfs = layertrace.self_times(spans)
        offset = dump["epoch_offset"]
        assert dump["ops"], "no traced op"
        for rec in dump["ops"]:
            rec = layertrace.OpRecord(**rec)
            # the clocks differ by epoch_offset, and Spark keeps milliseconds
            slack = 0.05
            for sub_ms, done_ms in rec.status["jobs"]:
                assert rec.t0 - slack <= sub_ms / 1000.0 - offset <= rec.t2 + slack
                assert done_ms is not None
                assert done_ms / 1000.0 - offset <= rec.t2 + slack
            ph = layertrace.op_phases(rec, spans, offset)
            module_self = sum(
                selfs[i] for i, s in enumerate(spans)
                if s.op == rec.op and s.name in layertrace.LAYER_NAMES
            )
            assert module_self <= ph["build.s"] + 1e-9
            assert 0.0 <= ph["driver_gap.s"] <= rec.t2 - rec.t0 + 1e-9
    assert called == set(layertrace.LAYER_NAMES)
