"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
host's core count).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "images_per_sec": ...}

The flagship job (geocode_tile) is the BASELINE.json metric: end-to-end
broadcast gazetteer join + vet + composite-best + cell assignment +
per-cell density over the derived image+caption table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from batch_geocode_spark import entry_queries as EQ  # noqa: E402
from batch_geocode_spark.session import default_cpus, get_spark  # noqa: E402

HEADLINE = [
    "g02_composite_best",
    "g04_tile_density",
    "g05_admin_pip",
    "g08_knn_within_image",
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "e01_cosine_topk",
    "e02_cosine_near_dup",
    "d05_minhash_lsh",
    "t02_quality_scores",
    "c01_curation_pipeline",
    "g18_spatial_clusters",
]


def wait_for_quiet(max_load: float = 4.0, timeout_s: int = 120) -> tuple[float, bool]:
    """This host carries EXTERNAL tenant load in multi-minute bursts
    (1-min load 10-20 with zero local activity; 2-5× timing swings).
    Gate each measurement on the load average the way
    scripts/scaling_bench.py does, so BENCH_r* deltas reflect code, not
    the neighbor. Bounded wait: the driver's bench run must terminate.
    Returns (load_at_release, timed_out) — a timed-out gate means the
    attempt ran KNOWINGLY under external load and is flagged as such."""
    t0 = time.time()
    while True:
        load = os.getloadavg()[0]
        if load <= max_load:
            return load, False
        if time.time() - t0 > timeout_s:
            return load, True
        time.sleep(10)


def timed_best(action, attempts: int = 2, max_attempts: int = 4,
               agree: float = 0.25, ext_quiet: float = 1.5) -> tuple[float, dict]:
    """Load-gated adaptive best-of-N: start with ``attempts`` runs; if
    the two fastest disagree by more than ``agree`` (a load burst hit
    mid-attempt, which the pre-attempt gate can't see), keep measuring
    up to ``max_attempts``. The min of agreeing runs is the honest
    steady-state figure on a host with external tenant bursts.

    Returns (best_sec, evidence): evidence carries every attempt's wall
    time, the 1-min load at gate release, the gate-timeout flag, AND the
    external-tenant CPU cores concurrently busy DURING the attempt
    (host /proc/stat busy minus our own process tree — the load average
    lags sub-minute bursts, this does not). The reported min is the
    fastest attempt; ``best_ext_cores`` is that attempt's external load
    and ``contaminated`` means no attempt ran with external CPU below
    ``ext_quiet`` cores — so the BENCH JSON PROVES each figure was (or
    wasn't) measured quiet (VERDICT r3)."""
    from batch_geocode_spark.loadmeter import ExternalCpuMeter

    times: list[float] = []
    loads: list[float] = []
    gated: list[bool] = []
    ext: list[float] = []
    while True:
        load, timed_out = wait_for_quiet()
        loads.append(round(load, 2))
        gated.append(timed_out)
        with ExternalCpuMeter() as m:
            t0 = time.perf_counter()
            action()
            times.append(time.perf_counter() - t0)
        ext.append(round(m.ext_cores(), 2))
        if len(times) >= attempts:
            s = sorted(times)
            if len(s) >= 2 and (s[1] - s[0]) / s[0] <= agree:
                break
            if len(times) >= max_attempts:
                break
    i_best = times.index(min(times))
    evidence = {
        "attempts": [round(t, 3) for t in times],
        "loads": loads,
        "gate_timeouts": gated,
        "ext_cores": ext,
        "best_ext_cores": ext[i_best],
        # contaminated = no attempt ran on a provably-quiet host; the min
        # still gets reported but can't be trusted as steady-state
        "contaminated": all(g or e > ext_quiet for g, e in zip(gated, ext)),
    }
    return min(times), evidence


def stress_chain_dedup(spark) -> dict:
    """VERDICT r3 stress: the d04/d05/d07 backbone on an ADVERSARIAL
    corpus — a 3000-deep near-dup chain (pair graph = one path, maximal
    component diameter) + 2000 independents + a hot shared header
    phrase in every doc. Times the full MinHash+LSH → exact verify →
    alternating-star clustering pipeline and checks the clusters are
    exactly right (one 3000-doc component, nothing else)."""
    from batch_geocode_spark.datagen import chain_docs_to_spark
    from batch_geocode_spark.operators import dedup as D

    n_chain, n_ind = 3000, 2000
    docs = chain_docs_to_spark(
        spark, n_chain, n_independent=n_ind,
        hot_header="shared corpus header boilerplate phrase",
    ).repartition(32).cache()
    docs.count()
    t0 = time.perf_counter()
    # 32 bands x 2 rows: a 3000-link chain at adjacent jaccard ~0.77
    # needs per-pair detection ~1 - 3e-13 (16x4 banding misses ~3 links
    # and splits the chain); the extra candidates are absorbed by the
    # exact-verify step
    pairs = D.minhash_lsh_pairs(docs, n=4, threshold=0.75, bands=32)
    clusters = D.dedup_clusters(pairs).collect()
    dt = time.perf_counter() - t0
    docs.unpersist()
    comp_sizes = sorted((r["n_docs"] for r in clusters), reverse=True)
    ok = (
        len(clusters) == 1
        and comp_sizes[0] == n_chain
        and clusters[0]["keep_doc_id"] == 0
    )
    return {
        "chain_dedup_sec": round(dt, 3),
        "n_docs": n_chain + n_ind,
        "chain_depth": n_chain,
        "n_clusters": len(clusters),
        "largest_cluster": comp_sizes[0] if comp_sizes else 0,
        "clusters_correct": bool(ok),
    }


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM (codegen, broadcast machinery, parquet footers) and the
    Python UDF workers once so timings measure steady-state query cost."""
    EQ._views(spark, sf_dir)
    spark.table("orders").count()
    EQ.g03_cell_assign(spark, sf_dir).count()
    EQ.g05_admin_pip(spark, sf_dir).count()  # spins up the Arrow workers


def run(sf_dir: str, cpus: int) -> dict:
    spark = get_spark(master=f"local[{cpus}]", app_name="bench")
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    measurement: dict[str, dict] = {}
    for name in HEADLINE:
        fn = EQ.QUERIES[name]
        best, ev = timed_best(lambda: fn(spark, sf_dir).count())
        timings[name] = round(best, 3)
        measurement[name] = ev

    # flagship throughput: images/sec through geocode → cell → density
    n_images = spark.sql(EQ.IMAGES_SQL).count()
    flagship_sec, flagship_ev = timed_best(
        lambda: EQ.g04_tile_density(spark, sf_dir).collect()
    )
    measurement["flagship"] = flagship_ev

    stress = stress_chain_dedup(spark)
    spark.stop()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline suite wall time (flagship: geocoded images/sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n_images": n_images,
        "flagship_sec": round(flagship_sec, 3),
        "images_per_sec": round(n_images / flagship_sec, 1),
        "cpus": cpus,
        "stress": stress,
        # self-proving measurement evidence: per-query attempt times,
        # 1-min load at each gate release, and gate-timeout flags.
        # contaminated_queries is the at-a-glance list whose figures ran
        # entirely under external load (trust those deltas accordingly).
        "measurement": measurement,
        "contaminated_queries": sorted(
            k for k, v in measurement.items() if v["contaminated"]
        ),
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rep = run(sf_dir, default_cpus())
    # The driver captures only the tail of stdout (~2000 chars): the full
    # per-attempt measurement evidence goes to a sidecar file and the
    # LAST line printed is the compact headline JSON (round-4 BENCH came
    # back "parsed": null because the one line outgrew the capture).
    evidence_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "bench_evidence.json"
    )
    os.makedirs(os.path.dirname(evidence_path), exist_ok=True)
    with open(evidence_path, "w") as f:
        json.dump(rep, f, indent=1)
    compact = {k: v for k, v in rep.items() if k != "measurement"}
    compact["stress"] = {
        k: rep["stress"][k] for k in ("chain_dedup_sec", "clusters_correct")
    }
    compact["evidence_file"] = "BENCH/bench_evidence.json"
    print(json.dumps(compact))
