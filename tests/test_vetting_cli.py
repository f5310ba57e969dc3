"""Vetting split/merge + manual overlay (reference §3.3), ISO validation,
CLI surface, snapshot time travel, salt picker."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from batch_geocode_spark import datagen
from batch_geocode_spark.functions.iso import invalid_iso2
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import tiles as T
from batch_geocode_spark.operators import vetting as V
from batch_geocode_spark.snapshots import SnapshotTable, write_snapshotted


@pytest.fixture(scope="module")
def wide(spark):
    images = datagen.images_to_spark(spark, 150, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    vetted, best = G.geocode_images(images, gaz)
    return G.to_wide(images, vetted, best).cache()


def test_split_merge_roundtrip(spark, wide):
    meta, geo = V.split_meta_geo(wide)
    assert "best_lat" not in meta.columns
    assert "best_lat" in geo.columns and "caption" in geo.columns
    merged = V.merge_vetted(meta, geo)
    assert sorted(merged.columns) == sorted(wide.columns)
    assert merged.count() == wide.count()
    a = wide.orderBy("image_id").toPandas()
    b = merged.select(*wide.columns).orderBy("image_id").toPandas()
    assert a.equals(b)


def test_apply_vet_overlay(spark, wide):
    some = (
        wide.filter(F.col("GM1_lat").isNotNull())
        .select("image_id")
        .limit(5)
        .withColumn("chosen_prefix", F.lit("GM1"))
    )
    out = V.apply_vet_overlay(wide, some)
    chosen_ids = [r["image_id"] for r in some.collect()]
    got = out.filter(F.col("image_id").isin(chosen_ids)).toPandas().set_index("image_id")
    src = wide.filter(F.col("image_id").isin(chosen_ids)).toPandas().set_index("image_id")
    for i in chosen_ids:
        assert got.loc[i, "best_lat"] == src.loc[i, "GM1_lat"]
        assert got.loc[i, "best_name"] == src.loc[i, "GM1_name"] + " (from GM1)"
        assert got.loc[i, "best_type"] == src.loc[i, "GM1_type"]
    # untouched rows keep the automatic composite
    other = out.filter(~F.col("image_id").isin(chosen_ids)).orderBy("image_id").toPandas()
    orig = wide.filter(~F.col("image_id").isin(chosen_ids)).orderBy("image_id").toPandas()
    assert other["best_name"].tolist() == orig["best_name"].tolist()


def test_iso2_validation(spark):
    df = spark.createDataFrame(
        [("US",), ("ke",), ("XX",), ("ZZ",), (None,)], "iso2 string"
    )
    bad = {r["iso2_value"] for r in invalid_iso2(df).collect()}
    assert bad == {"XX", "ZZ"}
    good = spark.createDataFrame([("us",), ("KE",)], "iso2 string")
    assert invalid_iso2(good).count() == 0


def test_snapshot_time_travel(spark, tmp_path_factory):
    images = datagen.images_to_spark(spark, 100, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    t = SnapshotTable(str(tmp_path_factory.mktemp("tt")))
    write_snapshotted(best, t, n_buckets=4, group_size=2)  # 2 commits
    hist = t.history()
    assert len(hist) == 2
    early = t.read(spark, snapshot_id=0).count()
    final = t.read(spark).count()
    assert 0 < early < final == best.count()


def test_pick_salt_buckets(spark):
    # heavily skewed: 90% of points in one cell
    rows = [(0.001 * (i % 3), 0.001 * (i % 3)) for i in range(900)] + [
        (float(i % 60), float(i % 120)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "lat double, lng double")
    s = T.pick_salt_buckets(df, "lat", "lng", res=6, sample_fraction=1.0)
    assert s >= 4
    uniform = spark.createDataFrame(
        [(float(i % 60), float((i * 7) % 120)) for i in range(1000)], "lat double, lng double"
    )
    assert T.pick_salt_buckets(uniform, "lat", "lng", res=2, sample_fraction=1.0, hot_ratio=10.0) == 0


def test_cli_end_to_end(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    images_p = str(base / "images")
    gaz_p = str(base / "gaz")
    out_p = str(base / "out")
    datagen.images_to_spark(spark, 80, with_bytes=False).write.parquet(images_p)
    datagen.gazetteer_to_spark(spark).write.parquet(gaz_p)
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "batch_geocode_spark.cli",
            "--input", images_p,
            "--gazetteer", gaz_p,
            "--output", out_p,
            "--sources", "GM,OSM",
            "--layout", "best",
            "--master", "local[2]",
            "--n-buckets", "4",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    report = json.loads(line)
    assert report["rows"] > 0
    assert set(report["match_rate_by_source"]) <= {"GM", "OSM"}
    t = SnapshotTable(out_p)
    assert t.read(spark).count() == report["rows"]


def test_vet_json_document_roundtrip(spark, wide):
    """Reference wire-format parity (vet_geocode.py:75-93,
    utilities.py:48-66): the single JSON document is keyed
    '<idx>: <caption>' with idx a 0-based dense range; loading it back
    through from_json + '^\\d+: ' strip and merging reproduces the wide
    table byte-for-byte (incl. the caption, which survives only via the
    key strip)."""
    meta, geo = V.split_meta_geo(wide)
    doc = V.vet_json_document(geo)
    obj = json.loads(doc)
    n = geo.count()
    assert len(obj) == n
    # key format: '<idx>: <caption>', idx == range(n) ordered by image_id
    idxs = sorted(int(k.split(": ", 1)[0]) for k in obj)
    assert idxs == list(range(n))
    assert all(": " in k for k in obj)
    # a human edits one row in the browser, then the doc comes back
    some_key = next(k for k, v in obj.items() if v.get("best_name"))
    obj[some_key]["best_name"] = "Hand-picked"
    edited = json.dumps(obj, ensure_ascii=False)

    parsed = V.load_vet_json_document(spark, edited, V.vet_value_schema(geo))
    merged = V.merge_vetted(meta.drop("caption"), parsed)
    got = merged.select(*wide.columns).orderBy("image_id").toPandas()
    want = wide.orderBy("image_id").toPandas()
    edited_caption = some_key.split(": ", 1)[1]
    mask = want["caption"] == edited_caption
    # captions byte-equal everywhere (prefix strip exact)
    assert got["caption"].tolist() == want["caption"].tolist()
    # the human edit landed exactly on its row(s)
    edited_ids = want.loc[mask & (want["best_name"].notna()), "image_id"]
    got_idx = got.set_index("image_id")
    assert (got_idx.loc[edited_ids, "best_name"] == "Hand-picked").any()
    # everything else untouched
    untouched = ~got["image_id"].isin(edited_ids)
    for col in wide.columns:
        if col == "best_name":
            continue
        a, b = got.loc[untouched, col], want.loc[untouched, col]
        assert a.equals(b), col


def test_curate_cli_prints_stage_table(tmp_path):
    """The curation CLI must emit the machine-parsable JSON line AND a
    human-readable per-stage row-count table (the auditable record,
    visible without opening the snapshot manifest)."""
    out_p = str(tmp_path / "curated")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "batch_geocode_spark.curate_cli",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
            "--output", out_p,
            "--master", "local[2]",
            "--n-buckets", "4",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    report = json.loads(line)
    stages = report["curation_stages"]
    assert stages["input"] > 0 and report["rows"] == stages["after_stratified_sample"]
    # the visible table lists every stage with its surviving row count
    assert "curation stages (surviving rows)" in proc.stdout
    for stage, n in stages.items():
        matching = [
            ln for ln in proc.stdout.splitlines()
            if ln.strip().startswith(stage) and f"{n:,}" in ln
        ]
        assert matching, f"stage {stage} missing from printed table"
