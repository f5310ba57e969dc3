"""Round-7 optimization instrumentation (guide section 1) — NOT the
frozen driver bench. Three modes:

  python bench_extra.py time [names...]   noop-sink timings per query
  python bench_extra.py explain TAG [names...]
                                          .explain("formatted") of each
                                          query -> plans/r07/<q>_<TAG>.txt
  python bench_extra.py backbone          micro-timings of the shared
                                          geocode backbone stages

The noop sink times computation of EVERY column without paying for a
collect or letting count() prune the plan (guide section 1.4); jobs are
labeled so any UI/event-log inspection maps back to queries. Numbers
from this file are cited in OPTIMIZATION_r07.md; bench.py stays frozen.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from batch_geocode_spark import entry_queries as EQ  # noqa: E402
from batch_geocode_spark.session import default_cpus, get_spark  # noqa: E402
from bench import HEADLINE, wait_for_quiet, warm_up  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, action, attempts=3):
    ts = []
    for _ in range(attempts):
        wait_for_quiet()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        action()
        ts.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    return ts


def _session(sf_dir, cpus):
    spark = get_spark(master=f"local[{cpus}]", app_name="bench_extra")
    warm_up(spark, sf_dir)
    return spark


def mode_time(sf_dir, cpus, names, attempts=3, sink="noop"):
    spark = _session(sf_dir, cpus)
    out = {}
    for name in names:
        fn = EQ.QUERIES[name]
        if sink == "noop":
            act = lambda: noop(fn(spark, sf_dir))  # noqa: E731
        else:
            act = lambda: fn(spark, sf_dir).count()  # noqa: E731
        ts = timed(spark, f"r07:{name}", act, attempts=attempts)
        out[name] = {"attempts": ts, "min": min(ts)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"total_min": round(sum(v["min"] for v in out.values()), 3),
                      "sink": sink}))
    spark.stop()


def mode_explain(sf_dir, cpus, tag, names):
    spark = _session(sf_dir, cpus)
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = EQ.QUERIES[name](spark, sf_dir)
        path = f"plans/r07/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted")))
        print("wrote", path, flush=True)
    spark.stop()


def mode_backbone(sf_dir, cpus):
    """Stage-by-stage cost of the shared geocode backbone (feeds g01-g08,
    g18-g20 and the flagship): where do g02's seconds actually go?"""
    from batch_geocode_spark.operators import geocode as G

    spark = _session(sf_dir, cpus)
    steps = {
        "orders_scan_count": lambda: spark.table("orders").count(),
        "images_sql_noop": lambda: noop(spark.sql(EQ.IMAGES_SQL)),
        "images_repart_noop": lambda: noop(EQ._images(spark, sf_dir)),
        "gaz_noop": lambda: noop(EQ._gaz(spark, sf_dir)),
        "candidates_noop": lambda: noop(
            G.build_candidates(EQ._images(spark, sf_dir), EQ._gaz(spark, sf_dir))
        ),
        "vetted_noop": lambda: noop(EQ._geocoded(spark, sf_dir)[0]),
        "best_noop": lambda: noop(EQ._geocoded(spark, sf_dir)[1]),
        "best_count": lambda: EQ._geocoded(spark, sf_dir)[1].count(),
        "views_only": lambda: EQ._views(spark, sf_dir),
    }
    for label, act in steps.items():
        ts = timed(spark, f"r07:backbone:{label}", act, attempts=3)
        print(json.dumps({label: ts}), flush=True)
    spark.stop()


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "time":
        names = sys.argv[2:] or HEADLINE
        mode_time(sf_dir, cpus, names)
    elif mode == "count":
        names = sys.argv[2:] or HEADLINE
        mode_time(sf_dir, cpus, names, sink="count")
    elif mode == "explain":
        tag = sys.argv[2]
        names = sys.argv[3:] or HEADLINE
        mode_explain(sf_dir, cpus, tag, names)
    elif mode == "backbone":
        mode_backbone(sf_dir, cpus)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
