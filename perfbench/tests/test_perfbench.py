"""Tests for the benchmark itself, on small inputs.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from batch_geocode_spark import datagen  # noqa: E402
from perfbench import inputs, metrics  # noqa: E402
from perfbench.tracing import Tracer, self_times  # noqa: E402

SMALL = inputs.CorpusPlan(
    clean=40,
    eval_docs=15,
    dup_groups=6,
    chain=60,
    ngram_leaks=4,
    semantic_leaks=4,
    low_quality=4,
    dropped_lang=4,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_digest():
    for make in (
        lambda s: [inputs.caption_table(500, s)],
        lambda s: [inputs.admin_polygons(s), inputs.gazetteer(s)],
        lambda s: list(inputs.corpus(SMALL, s)[:2]),
    ):
        assert inputs.digest(*make(5)) == inputs.digest(*make(5))
        assert inputs.digest(*make(5)) != inputs.digest(*make(6))


def test_different_seed_same_planted_counts():
    def hot_share(caps):
        hot = {datagen.place_name(p) for p in datagen.DENSE_METROS}
        return sum(any(f"near {h}," in c for h in hot) for c in caps["caption"]) / len(caps)

    a, b = inputs.caption_table(1000, 1), inputs.caption_table(1000, 2)
    assert (a["caption"] != b["caption"]).any()
    assert hot_share(a) == hot_share(b) == pytest.approx(datagen.P_KNOWN * datagen.P_DENSE)
    assert Counter(a["caption"]) == Counter(b["caption"])

    pa_, pb = inputs.admin_polygons(1), inputs.admin_polygons(2)
    assert len(pa_) == len(pb) == 320 + 4
    assert Counter(pa_["admin_level"]) == Counter(pb["admin_level"])

    docs_a, _, exp_a, surv_a = inputs.corpus(SMALL, 1)
    docs_b, _, exp_b, surv_b = inputs.corpus(SMALL, 2)
    assert set(docs_a["text"]).isdisjoint(docs_b["text"])
    assert exp_a == exp_b
    assert exp_a["input"] == len(docs_a) == len(docs_b)
    # every stage removes a known, non-zero number of documents
    stages = metrics.CURATION_STAGES
    assert all(exp_a[x] > exp_a[y] > 0 for x, y in zip(stages, stages[1:]))
    # chain depth and exact-duplicate groups are the planted ones
    for docs in (docs_a, docs_b):
        assert docs["text"].str.startswith("w").sum() == SMALL.chain
        assert (docs["text"].value_counts() > 1).sum() == SMALL.dup_groups
    assert len(surv_a) == len(surv_b) == exp_a["after_stratified_sample"]
    assert all(i % inputs.EVAL_MOD for i in surv_a)


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 3, "start": 7.5, "end": 9.0},  # overruns its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0 - 0.5)
    assert st[4] == pytest.approx(1.5)


def test_heavy_share_counts_the_iteration_only():
    spans = [
        {"id": 0, "name": "iteration", "parent": None, "start": 0.0, "end": 4.0},
        {"id": 1, "name": "scan", "parent": 0, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "curation", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "probes", "parent": None, "start": 4.0, "end": 14.0},
        {"id": 4, "name": "dedup.lsh", "parent": 3, "start": 4.0, "end": 14.0},
    ]
    assert [s["id"] for s in metrics.iteration_spans(spans)] == [0, 1, 2]
    assert metrics.heavy_share(spans, ("dedup", "curation")) == pytest.approx(0.75)
    assert metrics.heavy_share(spans, ("scan",)) == pytest.approx(0.25)


def test_tracer_records_nesting_without_spark():
    tr = Tracer("t")
    with tr.span("iteration"):
        with tr.span("scan") as s:
            s["counts"]["rows"] = 3
        with tr.span("dedup.lsh"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("iteration", None),
        ("scan", 0),
        ("dedup.lsh", 0),
    ]
    values = metrics.layer_values(tr.spans, {})
    assert values["scan.rows"] == 3
    assert values["dedup.lsh.s"] >= 0.0
    assert set(values) == {name for name, *_ in metrics.PER_LAYER}


def test_benchmark_json_matches_metric_tables():
    from perfbench.workloads import WORKLOADS

    spec = _spec()
    assert spec["end_to_end"] == [
        {"name": n, "unit": u, "better": b, "bound": bound}
        for n, u, b, bound in metrics.END_TO_END
    ]
    assert spec["per_layer"] == [
        {"name": n, "unit": u, "better": b} for n, u, b, _src in metrics.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
def test_output_carries_every_metric_with_its_unit(trace):
    spec = _spec()
    args = ["--workload", "curate_docs", "--seed", "3", "--seconds", "1"]
    proc = _run(ROOT, *args, "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}


def test_fails_without_the_engine(tmp_path):
    """In a directory that holds only the benchmark, the run exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    args = ["--workload", "geo_spatial", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = _run(tmp_path, *args)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
