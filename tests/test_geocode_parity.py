"""Row-for-row parity of the Spark geocode pipeline vs the pandas oracle
(the oracle is a literal reimplementation of the reference's vet math,
reference: geocode/query_funcs.py:193-290)."""

import numpy as np
import pandas as pd
import pytest

from batch_geocode_spark import datagen
from batch_geocode_spark.functions.cells import cell_encode, np_cell_encode
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.oracle.pandas_oracle import extract_key_default, geocode_oracle

N_IMAGES = 400
TILE_RES = 9


@pytest.fixture(scope="module")
def data(spark):
    images_pd = datagen.make_images(N_IMAGES, with_bytes=False)
    gaz_pd = datagen.make_gazetteer()
    images = datagen.images_to_spark(spark, N_IMAGES, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    return images_pd, gaz_pd, images, gaz


def test_best_parity(data):
    images_pd, gaz_pd, images, gaz = data
    _, best = G.geocode_images(images, gaz)
    got = best.toPandas().sort_values("image_id").reset_index(drop=True)
    want = geocode_oracle(images_pd, gaz_pd, extract_key_default).sort_values(
        "image_id"
    ).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got["image_id"].tolist() == want["image_id"].tolist()
    assert got["best_type"].tolist() == want["best_type"].tolist()
    for c in ("best_lat", "best_long", "best_buffer"):
        np.testing.assert_allclose(got[c].to_numpy(), want[c].to_numpy(), atol=1e-9)
    # tile-id parity (north_star: same best coordinate AND tile id per image)
    got_tiles = np_cell_encode(got["best_lat"], got["best_long"], TILE_RES)
    want_tiles = np_cell_encode(want["best_lat"], want["best_long"], TILE_RES)
    assert got_tiles.tolist() == want_tiles.tolist()


def test_unknown_places_have_no_best(data):
    images_pd, _, images, gaz = data
    _, best = G.geocode_images(images, gaz)
    best_ids = {r["image_id"] for r in best.select("image_id").collect()}
    unknown = images_pd[images_pd.caption.str.contains("Nowhereville")]["image_id"]
    assert len(unknown) > 0
    assert not (set(unknown) & best_ids)  # no-result semantics → absent/NULL


def test_buffer_monotonicity(data):
    """Composite-best acceptance is monotone in max_buffer (property from
    reference vet semantics)."""
    _, _, images, gaz = data
    counts = []
    for buf in (2.0, 15.0, 100.0):
        _, best = G.geocode_images(images, gaz, max_buffer=buf)
        counts.append(best.count())
    assert counts[0] <= counts[1] <= counts[2]


def test_wide_layout(data):
    _, _, images, gaz = data
    vetted, best = G.geocode_images(images, gaz)
    wide = G.to_wide(images, vetted, best)
    cols = wide.columns
    assert cols[: len(images.columns)] == images.columns
    geo_cols = cols[len(images.columns) :]
    assert geo_cols[:5] == [f"best_{s}" for s in G.SUFFIXES]
    prefixes = [c[: c.rindex("_")] for c in geo_cols[::1][5::5]]
    assert prefixes == sorted(prefixes, key=str.lower)
    # caption byte-equality through the pipeline (input_hint invariant)
    pdf = wide.select("image_id", "caption").toPandas().set_index("image_id")
    src = (
        pd.DataFrame(
            [(f"img{i:012d}", datagen.caption_for(i)[0]) for i in range(N_IMAGES)],
            columns=["image_id", "caption"],
        ).set_index("image_id")
    )
    assert pdf["caption"].sort_index().equals(src["caption"].sort_index())


def test_tile_density_matches_oracle(data):
    images_pd, gaz_pd, images, gaz = data
    _, best = G.geocode_images(images, gaz)
    from pyspark.sql import functions as F

    tiles = (
        best.select(cell_encode(F.col("best_lat"), F.col("best_long"), TILE_RES).alias("cell"))
        .groupBy("cell")
        .count()
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    want_best = geocode_oracle(images_pd, gaz_pd, extract_key_default)
    want = (
        pd.Series(np_cell_encode(want_best["best_lat"], want_best["best_long"], TILE_RES))
        .value_counts()
        .sort_index()
    )
    assert tiles["cell"].tolist() == want.index.tolist()
    assert tiles["count"].tolist() == want.values.tolist()


def test_fuzzy_candidates_prefix_semantics(spark):
    """Fuzzy fallback fires only for exact-miss keys and matches on the
    first-2-token prefix."""
    from pyspark.sql import functions as F

    images = spark.createDataFrame(
        [
            ("i0", "A photo near Placeville 3 district, x"),  # fuzzy hit
            ("i1", "A photo near Placeville 3, x"),  # exact hit -> excluded
            ("i2", "A photo near Totally Unknown, x"),  # prefix miss
        ],
        "image_id string, caption string",
    )
    gaz = datagen.gazetteer_to_spark(spark)
    fz = G.fuzzy_candidates(images, gaz).toPandas()
    assert set(fz["image_id"]) == {"i0"}
    assert (fz["rank"] <= 2).all()
    # fuzzy candidates all share the prefix 'placeville 3'
    assert fz["name"].str.lower().str.startswith("placeville 3").all()


def test_wide_nan_pattern_parity(data):
    """SURVEY §5 item 1: the wide output's null pattern matches the
    reference semantics — a {src}{rank}_ block is non-null exactly when
    that candidate exists and survives the buffer vet."""
    images_pd, gaz_pd, images, gaz = data
    vetted, best = G.geocode_images(images, gaz)
    wide = G.to_wide(images, vetted, best).toPandas().set_index("image_id")

    # oracle: recompute surviving candidates per image with pandas
    from batch_geocode_spark.oracle.pandas_oracle import (
        _diag_km,
        _points_for,
        extract_key_default,
    )

    gaz_by_name = {k: g.sort_values(["api_rank", "gaz_id"]) for k, g in gaz_pd.groupby("name_norm")}
    checked = 0
    for img in images_pd.itertuples():
        key = extract_key_default(img.caption)
        expected_prefixes = set()
        if key in gaz_by_name:
            for src, grp in gaz_by_name[key].groupby("source", sort=True):
                for rank, row in enumerate(grp.head(2).itertuples(), start=1):
                    if _diag_km(_points_for(row)) <= 15.0:
                        expected_prefixes.add(f"{src}{rank}")
        row = wide.loc[img.image_id]
        for col in wide.columns:
            if col.endswith("_lat") and not col.startswith("best"):
                prefix = col[: -len("_lat")]
                import pandas as pd

                assert pd.notna(row[col]) == (prefix in expected_prefixes), (
                    img.image_id,
                    prefix,
                )
        checked += 1
    assert checked == len(images_pd)


def test_wide_guards_out_of_grid_prefix(data):
    """A vetted row whose source×rank prefix is outside the default
    static grid must FAIL the wide layout loudly (pointing at an
    explicit prefixes list), not silently vanish; an explicit prefix list
    stays a deliberate sub-grid projection."""
    import pytest
    from pyspark.sql import functions as F

    _, _, images, gaz = data
    vetted, best = G.geocode_images(images, gaz)
    odd = vetted.withColumn("source", F.lit("XX"))
    with pytest.raises(Exception, match="pass an explicit prefixes list"):
        G.to_wide(images, odd, best).toPandas()
    # explicit list: projection semantics, no guard
    sub = G.to_wide(images, odd, best, prefixes=["GM1"]).toPandas()
    assert sub["GM1_lat"].isna().all()
