"""Tests of the benchmark itself: input determinism, the percentile
helper, span self time, and a tiny run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen_corpus, gen_survey, gen_warehouse  # noqa: E402
from perfbench.layers import METRICS  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.stats import per_call_p50, summarize  # noqa: E402
from perfbench.tracing import by_name, self_times  # noqa: E402


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize(
    "write",
    [
        lambda d, s: gen_survey.write_wave(os.path.join(d, "w.csv"), s, 1, 200),
        lambda d, s: gen_warehouse.write(d, s, 0.002),
        lambda d, s: gen_corpus.write(d, s, 300),
    ],
    ids=["survey", "warehouse", "corpus"],
)
def test_inputs_depend_only_on_seed(tmp_path, write):
    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        write(str(d), seed)
    assert _tree_bytes(str(a)) == _tree_bytes(str(b))
    assert _tree_bytes(str(a)) != _tree_bytes(str(c))


def test_survey_truth_adds_up():
    t = gen_survey.write_wave(os.devnull, 3, 0, 1000)
    assert t.valid + t.duplicate + t.unmatched + t.blank_name == t.rows
    assert t.fact_resposta_formacao == t.valid * gen_survey.N_FORMACOES


@pytest.mark.parametrize(
    "n,present,absent",
    [
        (19, [], ["p50", "p90"]),
        (20, ["p50"], ["p90"]),
        (99, ["p50"], ["p90"]),
        (100, ["p50", "p90"], ["p99"]),
        (1000, ["p50", "p90", "p99"], []),
    ],
)
def test_percentiles_need_ten_samples_beyond(n, present, absent):
    s = summarize([float(i) for i in range(n)])
    assert s["n"] == n
    for k in present:
        assert k in s
    for k in absent:
        assert k not in s


def test_percentile_values():
    s = summarize([float(i) for i in range(101)])
    assert s["p50"] == 50.0
    assert s["p90"] == 90.0


def test_per_call_p50_is_geometric_mean_of_medians():
    by_call = {"a": [1.0, 9.0, 4.0], "b": [0.25, 0.25], "c": []}
    assert per_call_p50(by_call) == pytest.approx(1.0)  # sqrt(4 * 0.25)
    with pytest.raises(ValueError):
        per_call_p50({"c": []})


def _span(i, name, start, end, parent=None, jobs=0):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "run": "r", "jobs": jobs}


def test_self_time_subtracts_child_cover():
    spans = [
        _span(0, "plans.a", 0.0, 10.0),
        _span(1, "table.b", 1.0, 3.0, parent=0),
        _span(2, "table.b", 2.0, 5.0, parent=0),  # overlaps its sibling
        _span(3, "table.c", 8.0, 12.0, parent=0),  # runs past its parent
        _span(4, "llm.d", 8.5, 9.0, parent=3),
    ]
    st = self_times(spans)
    # children cover [1, 5] and [8, 10] of the parent: 6 of its 10 s
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.5)
    agg = by_name(spans)
    assert agg["table.b"]["count"] == 2
    assert agg["table.b"]["self_s"] == pytest.approx(5.0)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == METRICS


def _run(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=root, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", ["survey_load", "analysis_session"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = METRICS if trace == "1" else END_TO_END
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == want
    assert not os.listdir(os.path.join(ROOT, ".perfbench_runs"))


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "survey_load", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
