"""Physical-plan audits: the plan shapes the 100TB story depends on.

These assertions pin down what .explain() must keep showing:
- parquet filter pushdown + column pruning (incl. the image payload)
- broadcast hash joins on the gazetteer path (never cartesian/SMJ)
- single-shuffle window plan for kNN
- whole-stage codegen on the hot path
"""

import pytest
from pyspark.sql import functions as F

from batch_geocode_spark import datagen
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import knn as KNN


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgs")) + "/images"
    datagen.images_to_spark(spark, 100, with_bytes=True).write.parquet(path)
    return path


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_quantity") < 24)
    ).select("l_extendedprice")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    # column pruning: scan reads only the 3 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_geocode_scan_prunes_image_payload(spark, images_parquet):
    """At 10^12 rows the bytes column IS the table — the geocode path
    must never read it (SURVEY.md §4 column pruning)."""
    images = spark.read.parquet(images_parquet)
    gaz = datagen.gazetteer_to_spark(spark)
    cands = G.build_candidates(images, gaz)
    plan = _plan(cands)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, "expected parquet scans"
    assert all("bytes" not in ln for ln in read_schemas)
    assert all("phash" not in ln for ln in read_schemas)


def test_gazetteer_join_is_broadcast_never_cartesian(spark, images_parquet):
    images = spark.read.parquet(images_parquet)
    gaz = datagen.gazetteer_to_spark(spark)
    plan = _plan(G.build_candidates(images, gaz))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # big side must not shuffle for the join


def test_knn_is_single_shuffle_no_join(spark, images_parquet):
    images = spark.read.parquet(images_parquet)
    gaz = datagen.gazetteer_to_spark(spark)
    vetted = G.vet_candidates(G.build_candidates(images, gaz))
    plan = _plan(KNN.knn_within_image(vetted, k=3))
    assert "SortMergeJoin" not in plan
    # the only Exchanges allowed: broadcasts + ONE hash partitioning on image_id
    shuffle_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    ]
    assert len(shuffle_lines) <= 2  # gazetteer rank window + image_id window


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    codegen = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    )
    assert "WholeStageCodegen" in codegen


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """SURVEY §4 bucketing: two tables bucketBy(8, image_id) co-locate
    the join — the SortMergeJoin runs with NO Exchange on either side,
    while the same join over plain parquet shuffles both. This is the
    Iceberg-bucket-partitioning story in local form."""
    images = datagen.images_to_spark(spark, 400, with_bytes=False).select(
        "image_id", "caption"
    )
    scores = images.select("image_id", F.length("caption").alias("score"))
    spark.sql("DROP TABLE IF EXISTS b_images")
    spark.sql("DROP TABLE IF EXISTS b_scores")
    images.write.bucketBy(8, "image_id").sortBy("image_id").saveAsTable("b_images")
    scores.write.bucketBy(8, "image_id").sortBy("image_id").saveAsTable("b_scores")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_images").join(spark.table("b_scores"), "image_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # contrast: un-bucketed inputs shuffle both sides
        plain = images.join(scores.withColumnRenamed("score", "s2"), "image_id")
        pplan = _plan(plain)
        assert "Exchange" in pplan and "hashpartitioning" in pplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_images")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_sampling_scan_prunes_text_payload(spark, sf_dir):
    """d08-style hash sampling must not read the text column — at scale
    the payload IS the table and the sampling predicate only needs the
    key + projected columns."""
    from batch_geocode_spark.operators import sampling as SA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SA.stratified_hash_sample(
        docs, "doc_id", "lang", {"fr": 1.0}, default_fraction=0.1,
        token_hash="md5_60",
    ).select("doc_id", "lang", "source")
    read_schemas = [ln for ln in _plan(out).splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("text" not in ln for ln in read_schemas)


def test_hot_caption_skew_is_structurally_immune(spark):
    """VERDICT r3 #8: a dense-metro caption hitting ~90% of rows
    (P_DENSE≈0.9) must not skew the pipeline. Structure makes it so:
    the hot key is only a broadcast PROBE key (never a shuffle key) so
    amplification spreads evenly over scan partitions, and
    composite_best shuffles on the unique image_id AFTER a partial
    aggregation collapses each image's ≤8 candidate rows map-side.
    Pins: (a) the join stays broadcast on the skewed fixture, (b)
    partial_* aggregate functions run before the exchange, (c) agg
    output rows stay balanced across shuffle partitions."""
    import pandas as pd

    n = 4000
    hot = datagen.place_name(0)
    capts = [
        f"A photo of a market near {hot}, somewhere"
        if i % 10 < 9
        else f"A photo of a clinic near {datagen.place_name(i % 150)}, somewhere"
        for i in range(n)
    ]
    pdf = pd.DataFrame(
        {"image_id": [f"img{i:012d}" for i in range(n)], "caption": capts}
    )
    images = spark.createDataFrame(pdf).repartition(8)
    gaz = datagen.gazetteer_to_spark(spark)
    best = G.composite_best(
        G.vet_candidates(G.build_candidates(images, gaz))
    )
    plan = _plan(best)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "partial_sum" in plan, "map-side combine must precede the shuffle"
    counts = (
        best.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"]
    )
    assert counts.max() <= 3 * max(counts.mean(), 1.0), (
        f"hot-key fixture skewed the agg partitions: {sorted(counts)}"
    )


def test_tile_pyramid_reuses_base_exchange(spark):
    """g14's pyramid legs all derive from ONE base (points → cells)
    aggregation; the union must not recompute it per level — the plan
    (final, post-AQE) has to show exchange/stage reuse so the expensive
    base shuffle runs once regardless of pyramid depth."""
    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    pyr = R.tile_pyramid(T.cell_density(best, res=9), levels=(9, 6, 3))
    pyr.collect()  # AQE finalizes reuse at execution
    plan = _plan(pyr)
    assert any(
        marker in plan
        for marker in ("ReusedExchange", "ReusedQueryStage", "ReusedSubquery")
    ), f"pyramid legs must share the base exchange:\n{plan}"


def test_spatial_knn_no_cartesian(spark):
    """g12's ring join must be an equi-join on cell — never a cross
    join, never a sort-merge shuffle of the big side beyond the ring
    explode itself."""
    from batch_geocode_spark import datagen
    from batch_geocode_spark.operators import geocode as G
    from batch_geocode_spark.operators import knn as KNN

    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    plan = _plan(KNN.knn_spatial(best, gaz, k=3, res=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_polygonize_is_a_local_relation(spark):
    """g16 collects its hot cells once and polygonizes them on the
    driver: the plan it returns is a local table scan, with no
    exchange, no join and no pandas stage left to run."""
    from batch_geocode_spark.operators import tiles as T

    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    plan = _plan(T.polygonize_cells(T.cell_density(best, res=9), res=9, threshold=1))
    assert "LocalTableScan" in plan
    for node in ("Exchange", "Join", "InPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_zonal_stats_broadcasts_polygons(spark):
    """g17's PIP stage must broadcast the polygon cover (the density
    side never shuffles before the final keyed agg) and stay free of
    cartesian joins."""
    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    polys = datagen.admin_polys_to_spark(spark) if hasattr(datagen, "admin_polys_to_spark") else None
    if polys is None:
        import pandas as pd

        rect = spark.createDataFrame(
            pd.DataFrame(
                {
                    "admin_id": [0, 1],
                    "iso2": ["c0", "c1"],
                    "admin_level": [0, 0],
                    "name": ["A", "B"],
                    "bb_w": [-180.0, 0.0],
                    "bb_e": [0.0, 180.0],
                    "bb_s": [-90.0, -90.0],
                    "bb_n": [90.0, 90.0],
                }
            )
        )
        ring = F.array(
            F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
            F.struct(F.col("bb_e").alias("x"), F.col("bb_s").alias("y")),
            F.struct(F.col("bb_e").alias("x"), F.col("bb_n").alias("y")),
            F.struct(F.col("bb_w").alias("x"), F.col("bb_n").alias("y")),
            F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
        )
        polys = rect.withColumn("rings", F.array(ring))
    z = R.zonal_stats(T.cell_density(best, res=9), polys, res=9)
    plan = _plan(z)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_minhash_plan_has_no_string_reassembly(spark, monkeypatch):
    """The LSH pipeline's shingle table must stay the grouped HASH-SET
    shape: no collect_list + sort_array band reassembly (the old
    explode-to-64-rows/doc + regroup), no string collect_set for the
    verify branch, never a sort-merge or cartesian join. The returned
    frame is a checkpoint, so the shapes are read from the two frames
    the call checkpoints (the band table and the verified pairs)."""
    from batch_geocode_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "w%d x y z a b c d" % (i % 3)) for i in range(30)],
        "doc_id long, text string",
    )
    checkpointed = []
    real = type(docs).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", spy)
    D.minhash_lsh_pairs(docs)
    assert len(checkpointed) == 2
    plan = "\n".join(checkpointed)
    assert "collect_set" in plan           # the one grouped aggregate
    assert "collect_list" not in plan      # perm-level reassembly gone
    assert "sort_array" not in plan        # band-key sort gone
    assert "array_intersect" in plan       # verify runs on hash arrays
    # (the verify join may plan SMJ statically — AQE converts it to a
    # broadcast join at runtime once the candidate side proves tiny)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_corpus_never_shuffles_before_join(spark):
    """decontamination_flags' 100TB contract: the corpus side streams
    shingle-exploded through a BROADCAST join with no corpus-side
    exchange before it. Exactly three hash exchanges may exist — the
    (small) eval-side distinct and the two-phase countDistinct AFTER
    the broadcast filter; a fourth means someone re-added the
    corpus-side distinct (a full wide-string shuffle)."""
    import re

    from batch_geocode_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota %d" % i)
         for i in range(40)],
        "doc_id long, text string",
    )
    ev = docs.filter("doc_id % 7 = 0")
    co = docs.filter("doc_id % 7 <> 0")
    plan = _plan(D.decontamination_flags(co, ev))
    nodes = re.findall(r"\(\d+\) (\w*Exchange)", plan)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert nodes.count("BroadcastExchange") >= 1
    assert nodes.count("Exchange") <= 3, nodes


def test_cluster_hulls_is_a_local_relation(spark):
    """cluster_hulls runs on the driver: its result is a local table
    scan — no exchange, no pandas UDF, no join."""
    from batch_geocode_spark.operators import cluster as C

    sdf = spark.createDataFrame(
        [(1, 0.0, 0.0, 1, True), (1, 1.0, 1.0, 1, True)],
        "cluster long, lat double, lng double, w long, is_core boolean",
    )
    plan = _plan(C.cluster_hulls(sdf))
    assert "LocalTableScan" in plan
    assert "Exchange" not in plan
    assert "Pandas" not in plan and "Join" not in plan


def test_pip_join_broadcasts_one_polygon_table(spark):
    """pip_join's polygon side is one broadcast local table — the cell
    cover carrying the admin attributes — joined once to the points;
    the points never shuffle."""
    import re

    from batch_geocode_spark import datagen
    from batch_geocode_spark.operators import pip as P

    pts = spark.range(20).select(
        F.col("id").cast("string").alias("image_id"),
        (F.col("id") * 4.0 - 40.0).alias("best_lat"),
        (F.col("id") * 9.0 - 90.0).alias("best_long"),
    )
    plan = _plan(P.pip_join(pts, datagen.admin_polygons_to_spark(spark), res=5))
    nodes = re.findall(r"\(\d+\) (\w*Exchange)", plan)
    assert nodes == ["BroadcastExchange"], nodes
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    # the broadcast side is the driver-built cover with its attributes
    assert re.search(r"\+- BroadcastExchange \(\d+\)\n\s+\+- LocalTableScan", plan), plan
    scan = re.search(r"\(\d+\) LocalTableScan\nOutput \[\d+\]: \[([^\]]*)\]", plan)
    cols = [c.split("#")[0] for c in scan.group(1).split(", ")]
    assert cols == ["admin_id", "cell", "iso2", "admin_level", "name"]
