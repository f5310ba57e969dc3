"""Query-level contracts not covered by the DuckDB oracle gate: the
production approx-percentile path (sketches are engine-specific, so the
bound is pinned here instead of hash-matched), and the adversarial
chain-shaped near-dup corpus that stresses the LSH → pairs → clusters
backbone at a component depth far beyond round-2's iteration cap."""

import os

import pytest
from conftest import _jobs_in

from batch_geocode_spark import entry_queries as EQ
from batch_geocode_spark.datagen import chain_docs_to_spark
from batch_geocode_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


def test_q13_approx_percentile_bounded_error(spark):
    """approx_percentile (the 10^12-row-safe path) must track the exact
    sort-based percentile within 1% relative error at accuracy=10000."""
    exact = EQ.q13_percentiles(spark, SF).toPandas().set_index("o_orderstatus")
    approx = EQ.q13_percentiles_approx(spark, SF).toPandas().set_index("o_orderstatus")
    assert set(exact.index) == set(approx.index)
    for status in exact.index:
        assert approx.loc[status, "n"] == exact.loc[status, "n"]
        for c in ("p50", "p90", "p99"):
            e, a = float(exact.loc[status, c]), float(approx.loc[status, c])
            assert abs(a - e) <= 0.01 * abs(e), (status, c, e, a)


def test_lsh_chain_clusters_deep_component(spark):
    """End-to-end d05→d07 shape on a 150-deep chain (6× round-2's cap):
    MinHash+LSH finds every adjacent pair, and connected components
    resolves ONE cluster labeled by the min doc id — the exact scenario
    where min-label propagation silently returned split clusters."""
    n = 150
    docs = chain_docs_to_spark(spark, n)
    pairs = D.minhash_lsh_pairs(docs, n=4, threshold=0.75)
    pdf = pairs.toPandas()
    got_pairs = {(r.doc_a, r.doc_b) for r in pdf.itertuples()}
    adjacent = {(i, i + 1) for i in range(n - 1)}
    # banded-signature recall on jaccard≈0.84 pairs is ~1 at 16x4 bands
    assert len(got_pairs & adjacent) >= 0.95 * len(adjacent)
    assert got_pairs <= adjacent | {(i, i + 2) for i in range(n - 2)}

    clusters = D.dedup_clusters(pairs).toPandas()
    assert len(clusters) == 1
    assert clusters.iloc[0]["component"] == 0
    assert clusters.iloc[0]["n_docs"] == n
    assert clusters.iloc[0]["keep_doc_id"] == 0


def test_lsh_chain_with_hot_shingles(spark):
    """Same chain + a shared header phrase in EVERY doc: the hot
    shingles make every doc pair a band-collision candidate in the
    blocking step of ngram_jaccard_pairs unless max_df prunes them.
    Exact-verify semantics must keep results identical to the clean
    chain (pairs are decided by full-set Jaccard, not the block key)."""
    n = 40
    docs = chain_docs_to_spark(
        spark, n, hot_header="common shared header phrase tokens here"
    )
    # max_df between the chain-shingle persistence (~12 consecutive
    # docs share a body shingle) and the header df (all 40 docs)
    got = D.ngram_jaccard_pairs(docs, n=4, threshold=0.75, max_df=15).toPandas()
    got_pairs = {(r.doc_a, r.doc_b) for r in got.itertuples()}
    adjacent = {(i, i + 1) for i in range(n - 1)}
    assert adjacent <= got_pairs
    assert got_pairs <= adjacent | {(i, i + 2) for i in range(n - 2)}


def test_c01_curation_snapshot_metrics(spark, tmp_path_factory):
    """c01 composition (VERDICT r4 #6): the snapshotted curation run
    records per-stage row counts in the manifest, the stage sequence is
    monotone non-increasing after the split, and the committed rows are
    exactly the curate_documents output (value parity is the DuckDB
    oracle's job — this pins the pipeline/manifest plumbing)."""
    from batch_geocode_spark.operators import curation as C
    from batch_geocode_spark.snapshots import SnapshotTable

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    table = SnapshotTable(str(tmp_path_factory.mktemp("curated")))
    snap = C.curate_snapshotted(docs, table, embeddings=emb, n_buckets=4)

    stages = snap["metrics"]["curation_stages"]
    order = [
        "corpus_after_eval_split",
        "after_exact_dedup",
        "after_near_dedup",
        "after_ngram_decontamination",
        "after_semantic_decontamination",
        "after_quality_filter",
        "after_stratified_sample",
    ]
    assert list(stages)[1:] == order  # after "input"
    counts = [stages[s] for s in order]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert stages["input"] > stages["corpus_after_eval_split"]
    assert snap["total_rows"] == stages["after_stratified_sample"] > 0

    want = (
        C.curate_documents(docs, embeddings=emb)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = (
        table.read(spark)
        .select("doc_id", "lang", "source")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)


# per-stage counts curate_documents(with_metrics=True) returned on sf0.01
# when each stage was counted by a count() job of its own
SF01_STAGE_ROWS = {
    "input": 500,
    "corpus_after_eval_split": 428,
    "after_exact_dedup": 428,
    "after_near_dedup": 412,
    "after_ngram_decontamination": 404,
    "after_semantic_decontamination": 400,
    "after_quality_filter": 400,
    "after_stratified_sample": 152,
}


def test_curation_metrics_ride_the_pipeline_jobs(spark):
    """with_metrics observes each stage on the jobs the pipeline runs
    anyway: it runs at most one job more than the call without metrics
    (materialising the result), and its counts equal the per-stage
    count() figures."""
    from batch_geocode_spark.operators import curation as C

    sf = os.path.join(os.path.dirname(SF), "sf0.01")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = {}

    def plain():
        got["plain"] = C.curate_documents(docs, embeddings=emb).collect()

    def metered():
        out, got["stages"] = C.curate_documents(docs, embeddings=emb, with_metrics=True)
        got["metered"] = out.collect()

    n_plain = _jobs_in(spark, "curate-plain", plain)
    n_metered = _jobs_in(spark, "curate-metered", metered)
    assert got["stages"] == SF01_STAGE_ROWS
    assert sorted(got["metered"]) == sorted(got["plain"])
    assert n_metered <= n_plain + 1, (n_metered, n_plain)


def test_curation_metrics_count_stages_adaptive_execution_skips(spark):
    """An eval-only input leaves the corpus empty, so adaptive execution
    drops the exact-dedup join together with the observed input frame;
    that count still comes out exact."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") % 7 == 0)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out, stages = C.curate_documents(docs, embeddings=emb, with_metrics=True)
    assert out.count() == 0
    assert stages == {k: (docs.count() if k == "input" else 0) for k in SF01_STAGE_ROWS}
