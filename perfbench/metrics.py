"""Metric tables: the names, units and directions the benchmark emits.

``BENCHMARK.json`` at the repository root lists exactly these; a test
keeps the two in step. End-to-end metrics come from the untraced run
(``--trace 0``), per-layer metrics from the traced run (``--trace 1``).
"""

from __future__ import annotations

import statistics

from perfbench.tracing import self_times

# name, unit, better, bound (share of the parent's median it may worsen).
# Wall times (wall_s, items_per_s, cold_s) go into each run's record, not
# here: on a loaded shared 4-vCPU host, with one or two warm iterations
# per run, ten seeds spread them by 0.12-0.32 (quartile distance over
# median), while CPU seconds and peak RSS stayed within 0.13.
END_TO_END = [
    ("cpu_s", "s", "lower", 0.25),
    ("cold_cpu_s", "s", "lower", 0.2),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# A layer is one module (or module pair) of the package; its spans are
# named after it, with a dotted suffix for sub-steps (dedup.lsh, ...).
LAYERS = (
    "scan",
    "multimodal",
    "geocode",
    "tiles",
    "pip",
    "rollups",
    "knn",
    "cluster",
    "dedup",
    "similarity",
    "curation",
    "snapshots",
)

CURATION_STAGES = (
    "input",
    "corpus_after_eval_split",
    "after_exact_dedup",
    "after_near_dedup",
    "after_ngram_decontamination",
    "after_semantic_decontamination",
    "after_quality_filter",
    "after_stratified_sample",
)

# name, unit, better, source. Sources:
#   ("run", key)            value measured by the run itself
#   ("self", span)          self time of the span(s) with this name
#   ("count", span, key)    a count the span recorded
#   ("layer", field, layer) jobs/stages/tasks/py/jvm summed over the layer's spans
PER_LAYER = [
    ("input.gen_s", "s", "lower", ("run", "gen_s")),
    ("session.start_s", "s", "lower", ("run", "session_start_s")),
    ("trace.span_sum_s", "s", "lower", ("run", "span_sum_s")),
    ("trace.untraced_wall_s", "s", "lower", ("run", "untraced_wall_s")),
    ("trace.overhead_s", "s", "lower", ("run", "overhead_s")),
    ("trace.heavy_share", "ratio", "higher", ("run", "heavy_share")),
    ("scan.s", "s", "lower", ("self", "scan")),
    ("scan.rows", "count", "higher", ("count", "scan", "rows")),
    ("scan.input_mb", "MB", "lower", ("count", "scan", "input_mb")),
    ("multimodal.s", "s", "lower", ("self", "multimodal")),
    ("multimodal.rows", "count", "higher", ("count", "multimodal", "rows")),
    ("multimodal.bad_rows", "count", "lower", ("count", "multimodal", "bad_rows")),
    ("geocode.s", "s", "lower", ("self", "geocode")),
    ("geocode.candidates", "count", "lower", ("count", "geocode", "candidates")),
    ("geocode.vet_keep_ratio", "ratio", "higher", ("count", "geocode", "vet_keep_ratio")),
    ("geocode.best_rows", "count", "higher", ("count", "geocode", "best_rows")),
    ("geocode.match_ratio", "ratio", "higher", ("count", "geocode", "match_ratio")),
    ("tiles.s", "s", "lower", ("self", "tiles")),
    ("tiles.cells", "count", "higher", ("count", "tiles", "cells")),
    ("tiles.hot_cell_share", "ratio", "lower", ("count", "tiles", "hot_cell_share")),
    ("pip.s", "s", "lower", ("self", "pip")),
    ("pip.matches", "count", "higher", ("count", "pip", "matches")),
    ("pip.matches_per_point", "ratio", "higher", ("count", "pip", "matches_per_point")),
    ("rollups.s", "s", "lower", ("self", "rollups")),
    ("knn.s", "s", "lower", ("self", "knn")),
    ("knn.rows_in", "count", "lower", ("count", "knn", "rows_in")),
    ("knn.rows_out", "count", "higher", ("count", "knn", "rows_out")),
    ("cluster.s", "s", "lower", ("self", "cluster")),
    ("cluster.sites", "count", "higher", ("count", "cluster", "sites")),
    ("cluster.clusters", "count", "higher", ("count", "cluster", "clusters")),
    ("dedup.lsh.s", "s", "lower", ("self", "dedup.lsh")),
    ("dedup.lsh.pairs", "count", "higher", ("count", "dedup.lsh", "pairs")),
    ("dedup.cc.s", "s", "lower", ("self", "dedup.cc")),
    ("dedup.cc.jobs", "count", "lower", ("layer", "jobs", "dedup.cc")),
    ("dedup.decon.s", "s", "lower", ("self", "dedup.decon")),
    ("dedup.decon.flagged", "count", "higher", ("count", "dedup.decon", "flagged")),
    ("similarity.s", "s", "lower", ("self", "similarity")),
    ("similarity.flagged", "count", "higher", ("count", "similarity", "flagged")),
    ("curation.s", "s", "lower", ("self", "curation")),
    *[
        (f"curation.stage_rows.{st}", "count", "higher", ("count", "curation", f"stage_rows.{st}"))
        for st in CURATION_STAGES
    ],
    ("snapshots.write_s", "s", "lower", ("self", "snapshots.write")),
    ("snapshots.commits", "count", "lower", ("count", "snapshots.write", "commits")),
    ("snapshots.files", "count", "lower", ("count", "snapshots.write", "files")),
    ("snapshots.bytes_per_row", "B/row", "lower", ("count", "snapshots.write", "bytes_per_row")),
    ("snapshots.resume_s", "s", "lower", ("self", "snapshots.resume")),
    (
        "snapshots.resume_rows_rewritten",
        "count",
        "lower",
        ("count", "snapshots.resume", "rows_rewritten"),
    ),
    *[
        (f"{layer}.{field}", unit, "lower", ("layer", field, layer))
        for layer in LAYERS
        for field, unit in (
            ("jobs", "count"),
            ("stages", "count"),
            ("tasks", "count"),
            ("py_cpu_s", "s"),
            ("jvm_cpu_s", "s"),
        )
    ],
]


def _in_layer(span_name: str, layer: str) -> bool:
    return span_name == layer or span_name.startswith(layer + ".")


def layer_values(spans: list[dict], run: dict) -> dict[str, float]:
    """Every PER_LAYER metric for one traced iteration. A layer the
    workload never calls reads 0."""
    selft = self_times(spans)
    out = {}
    for name, _unit, _better, src in PER_LAYER:
        kind = src[0]
        if kind == "run":
            out[name] = float(run.get(src[1], 0.0))
        elif kind == "self":
            out[name] = sum(selft[s["id"]] for s in spans if s["name"] == src[1])
        elif kind == "count":
            out[name] = float(
                sum(s["counts"].get(src[2], 0) for s in spans if s["name"] == src[1])
            )
        else:
            field, layer = src[1], src[2]
            picked = [s for s in spans if _in_layer(s["name"], layer)]
            if field.endswith("_cpu_s"):
                role = field.split("_", 1)[0]
                out[name] = sum(s.get("cpu_s", {}).get(role, 0.0) for s in picked)
            else:
                out[name] = float(sum(s.get(field, 0) for s in picked))
    return out


def iteration_spans(spans: list[dict]) -> list[dict]:
    """The root span named ``iteration`` and its descendants: the one
    pass over the workload's job. The ``probes`` root is left out."""
    root = next(s for s in spans if s["parent"] is None and s["name"] == "iteration")
    keep = {root["id"]}
    for s in spans:  # a span is recorded before its children
        if s["parent"] in keep:
            keep.add(s["id"])
    return [s for s in spans if s["id"] in keep]


def heavy_share(spans: list[dict], heavy: tuple[str, ...]) -> float:
    """Share of the iteration's layer self time spent in ``heavy``."""
    spans = iteration_spans(spans)
    selft = self_times(spans)
    layer_spans = [s for s in spans if any(_in_layer(s["name"], L) for L in LAYERS)]
    total = sum(selft[s["id"]] for s in layer_spans)
    hot = sum(
        selft[s["id"]] for s in layer_spans if any(_in_layer(s["name"], h) for h in heavy)
    )
    return hot / total if total > 0 else 0.0


def median(values: list[float]) -> float:
    return float(statistics.median(values))
