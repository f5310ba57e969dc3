"""Structured-Streaming ingestion: micro-batched geocode+tile equals the
batch run; watermarked window agg equals the batch group-by."""

import os

import pytest
from pyspark.sql import functions as F

from batch_geocode_spark import datagen, streaming
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import tiles as T
from batch_geocode_spark.snapshots import SnapshotTable


def test_stream_geocode_matches_batch(spark, tmp_path_factory):
    in_dir = str(tmp_path_factory.mktemp("stream_in"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("snap")))

    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    # two drops → at least two files for the file-stream source
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_geocode_to_snapshots(
        spark, in_dir, gaz, table, ckpt, res=9
    )
    q.awaitTermination(300)

    got = (
        streaming.read_density(spark, table)
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    want = (
        T.cell_density(best, res=9)
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    assert got["cell"].tolist() == want["cell"].tolist()
    assert got["n_images"].tolist() == want["n_images"].tolist()
    # snapshot lineage recorded per micro-batch
    assert len(table.history()) >= 1


def test_windowed_event_counts_batch_equivalence(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    got = streaming.windowed_event_counts(ev).toPandas()
    want = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    g = got.set_index(["window_start", "event_type"])["n_events"].sort_index()
    w = want.set_index(["window_start", "event_type"])["n_events"].sort_index()
    assert g.equals(w)


def test_windowed_event_counts_streaming_mode(spark, sf_dir, tmp_path_factory):
    """Run the SAME op as a real stream (file source, availableNow) and
    compare with the batch result."""
    in_dir = str(tmp_path_factory.mktemp("ev_in"))
    ckpt = str(tmp_path_factory.mktemp("ev_ckpt"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev.coalesce(2).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    out = streaming.windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("win_counts").toPandas()
    want = streaming.windowed_event_counts(ev).toPandas()
    g = got.set_index(["window_start", "event_type"])["n_events"].sort_index()
    w = want.set_index(["window_start", "event_type"])["n_events"].sort_index()
    assert g.equals(w)


def test_sessionize_matches_pandas_oracle(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    got = streaming.sessionize(ev, gap="30 minutes", watermark=None).toPandas()
    pdf = ev.toPandas().sort_values(["user_id", "ts"])
    sessions = []
    for uid, grp in pdf.groupby("user_id"):
        start = prev = None
        n = 0
        for ts in grp["ts"]:
            if prev is not None and (ts - prev).total_seconds() > 1800:
                sessions.append((uid, start, n))
                start, n = None, 0
            if start is None:
                start = ts
            prev = ts
            n += 1
        sessions.append((uid, start, n))
    import pandas as pd

    want = pd.DataFrame(sessions, columns=["user_id", "session_start", "n_events"])
    want["session_start"] = pd.to_datetime(want["session_start"])
    g = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert g["user_id"].tolist() == w["user_id"].tolist()
    assert g["session_start"].tolist() == w["session_start"].tolist()
    assert g["n_events"].tolist() == w["n_events"].tolist()


@pytest.mark.parametrize("kwargs, alpha", [pytest.param({}, 0.5, id="auto"),
                                           pytest.param({"alpha": 0.25}, 0.25, id="applyInPandasWithState")])
def test_ewma_cell_density_stateful(spark, tmp_path_factory, kwargs, alpha):
    """Custom stateful op across two micro-batches: the second batch
    must see the first batch's state (n_batches == 2, decayed EWMA),
    at the operator's default alpha ("auto") and at a passed-in one."""
    in_dir = str(tmp_path_factory.mktemp("ewma_in"))
    ckpt = str(tmp_path_factory.mktemp("ewma_ckpt"))
    images = datagen.images_to_spark(spark, 120, with_bytes=False)
    # same caption mix in both drops so the same cells recur
    images.coalesce(1).write.mode("append").parquet(in_dir)
    images.coalesce(1).write.mode("append").parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    stream = spark.readStream.schema(streaming.IMAGES_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    out = streaming.ewma_cell_density(stream, gaz, res=6, **kwargs)
    name = f"ewma_a{int(alpha * 100)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table(name).toPandas()
    assert (got["n_batches"] >= 1).any()
    # rows from the second trigger prove cross-batch state
    second = got[got["n_batches"] == 2]
    assert len(second) > 0
    # same count c in both drops: ewma alpha*c, then (2-alpha)*alpha*c
    first = got[got["n_batches"] == 1].set_index("cell")["ewma"]
    for r in second.itertuples():
        if r.cell in first.index:
            assert r.ewma == pytest.approx((2 - alpha) * first[r.cell], rel=1e-9)


def test_stream_multi_batch_deltas_accumulate(spark, tmp_path_factory):
    """Regression (ADVICE r1, high): with maxFilesPerTrigger=1 each drop
    is its own micro-batch; every batch's density delta must land (the
    old layout treated batch 0's committed buckets as done and dropped
    all later batches)."""
    in_dir = str(tmp_path_factory.mktemp("mb_in"))
    ckpt = str(tmp_path_factory.mktemp("mb_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("mb_snap")))

    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_geocode_to_snapshots(
        spark, in_dir, gaz, table, ckpt, res=9,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    # at least two distinct batch namespaces actually committed
    namespaces = {k.split("/")[0] for k in table.committed_buckets() if "/" in k}
    assert len(namespaces) >= 2, f"expected >=2 micro-batches, got {namespaces}"

    got = (
        streaming.read_density(spark, table)
        .toPandas().sort_values("cell").reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    want = (
        T.cell_density(best, res=9)
        .toPandas().sort_values("cell").reset_index(drop=True)
    )
    assert got["cell"].tolist() == want["cell"].tolist()
    assert got["n_images"].tolist() == want["n_images"].tolist()


def _admin_polys_local(spark):
    """A handful of rectangles covering the datagen coordinate range."""
    rows = []
    for i in range(6):
        w = -180.0 + i * 60.0
        rows.append((i, f"c{i}", 0, f"rect{i}", w, -90.0, w + 60.0, 90.0))
    rect = spark.createDataFrame(
        rows,
        "admin_id long, iso2 string, admin_level int, name string, "
        "bb_w double, bb_s double, bb_e double, bb_n double",
    )
    ring = F.array(
        F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
        F.struct(F.col("bb_e").alias("x"), F.col("bb_s").alias("y")),
        F.struct(F.col("bb_e").alias("x"), F.col("bb_n").alias("y")),
        F.struct(F.col("bb_w").alias("x"), F.col("bb_n").alias("y")),
        F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
    )
    return rect.withColumn("rings", F.array(ring))


def test_stream_pip_matches_batch_equivalence(spark, tmp_path_factory):
    """Continuous stream-static PIP (no foreachBatch): streaming result
    set equals the batch pip_join over the same drops."""
    from batch_geocode_spark.operators import pip as PIP

    in_dir = str(tmp_path_factory.mktemp("pip_in"))
    ckpt = str(tmp_path_factory.mktemp("pip_ckpt"))
    images = datagen.images_to_spark(spark, 150, with_bytes=False)
    images.coalesce(1).write.mode("append").parquet(in_dir)
    images.coalesce(1).write.mode("append").parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    polys = _admin_polys_local(spark)
    out = streaming.stream_pip_matches(
        spark, in_dir, gaz, polys, res=3, max_files_per_trigger=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("pip_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("pip_stream").groupBy("pt_id", "admin_id").count().toPandas()

    vetted = G.vet_candidates(G.build_candidates(images, gaz))
    want_df = PIP.pip_join(
        vetted, polys, res=3, id_col="image_id",
        lat_col="cand_lat", lng_col="cand_lng",
    )
    # batch over BOTH drops = 2x the single-copy matches
    want = want_df.groupBy("pt_id", "admin_id").count().toPandas()
    g = got.set_index(["pt_id", "admin_id"])["count"].sort_index()
    w = (want.set_index(["pt_id", "admin_id"])["count"] * 2).sort_index()
    assert len(g) > 0
    assert g.equals(w)


def test_stream_knn_matches_batch(spark, tmp_path_factory):
    from batch_geocode_spark.operators import knn as KNN

    in_dir = str(tmp_path_factory.mktemp("knn_in"))
    ckpt = str(tmp_path_factory.mktemp("knn_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("knn_snap")))
    images = datagen.images_to_spark(spark, 150, with_bytes=False)
    half_a = images.filter(F.col("image_id") < "img000000000075")
    half_b = images.filter(F.col("image_id") >= "img000000000075")
    half_a.coalesce(1).write.mode("append").parquet(in_dir)
    half_b.coalesce(1).write.mode("append").parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_knn_to_snapshots(
        spark, in_dir, gaz, table, ckpt, k=3, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    got = (
        table.read(spark)
        .orderBy("image_id", "knn_rank")
        .toPandas().reset_index(drop=True)
    )
    vetted = G.vet_candidates(G.build_candidates(images, gaz))
    want = (
        KNN.knn_within_image(vetted, k=3)
        .orderBy("image_id", "knn_rank")
        .toPandas().reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got["image_id"].tolist() == want["image_id"].tolist()
    assert got["knn_rank"].tolist() == want["knn_rank"].tolist()
    assert got["dist_km"].tolist() == want["dist_km"].tolist()


def _assert_replay_idempotent(process_batch, images, total):
    """Structured Streaming re-runs the last uncommitted batch after a
    restart: delivering batch 0 twice must leave exactly one copy of its
    rows (``total`` unchanged), and a new batch 1 must still accumulate."""
    process_batch(images, 0)
    once = total()
    assert once > 0
    process_batch(images, 0)  # replayed delivery of the same batch
    assert total() == once
    process_batch(images.limit(10), 1)
    assert total() > once


@pytest.mark.parametrize("sink", ["density", "pyramid", "zonal", "sites", "knn"])
def test_snapshot_sink_replay_is_idempotent(spark, tmp_path_factory, monkeypatch, sink):
    """The replay contract for every foreachBatch sink: a replayed
    batch reuses its ``batch-<id>`` namespace, whose committed buckets
    are skipped. Each case drives the sink's own foreachBatch body,
    captured from ``_start``, and measures the sink's serving read."""
    monkeypatch.setattr(streaming, "_start", lambda stream, process_batch, *_: process_batch)
    in_dir = str(tmp_path_factory.mktemp("replay_in"))
    ckpt = str(tmp_path_factory.mktemp("replay_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("replay_snap")))
    images = datagen.images_to_spark(spark, 80, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    polys = _admin_polys_local(spark)
    start, read, mass = {
        "density": (
            lambda: streaming.stream_geocode_to_snapshots(spark, in_dir, gaz, table, ckpt),
            lambda: streaming.read_density(spark, table),
            F.sum("n_images"),
        ),
        "pyramid": (
            lambda: streaming.stream_geocode_to_pyramid(spark, in_dir, gaz, table, ckpt),
            lambda: streaming.read_pyramid(spark, table),
            F.sum("n_images"),
        ),
        "zonal": (
            lambda: streaming.stream_zonal_deltas(spark, in_dir, gaz, polys, table, ckpt),
            lambda: streaming.read_zonal(spark, table),
            F.sum("n_images"),
        ),
        "sites": (
            lambda: streaming.stream_site_weights(spark, in_dir, gaz, table, ckpt),
            lambda: streaming.read_spatial_clusters(
                spark, table, eps_km=2100.0, min_pts=1, res=3
            ),
            F.sum("w"),
        ),
        "knn": (
            lambda: streaming.stream_knn_to_snapshots(spark, in_dir, gaz, table, ckpt),
            lambda: table.read(spark),
            F.count(F.lit(1)),
        ),
    }[sink]
    _assert_replay_idempotent(start(), images, lambda: read().agg(mass).first()[0])


def test_stream_exact_dedup_across_batches(spark, sf_dir, tmp_path_factory):
    """Stateful streaming dedup: a duplicate arriving in a LATER
    micro-batch (within the watermark) is dropped; batch fallback
    produces the same distinct key set."""
    in_dir = str(tmp_path_factory.mktemp("dd_in"))
    ckpt = str(tmp_path_factory.mktemp("dd_ckpt"))
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0, 0)
    rows_a = [(f"e{i}", f"u{i % 3}", base + timedelta(minutes=i), 1.0) for i in range(20)]
    rows_b = rows_a[5:10] + [  # re-deliveries + fresh rows
        (f"e{100+i}", "u9", base + timedelta(minutes=30 + i), 2.0) for i in range(5)
    ]
    schema = "event_id string, user_id string, ts timestamp, value double"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out = streaming.stream_exact_dedup(stream, ["event_id"], watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_stream").toPandas()
    assert len(got) == 25  # 20 + 5 fresh, 5 re-deliveries dropped
    assert got["event_id"].is_unique
    # batch fallback: same distinct keys
    both = spark.read.parquet(in_dir)
    batch = streaming.stream_exact_dedup(both, ["event_id"])
    assert batch.count() == 25


def test_read_density_pyramid_over_streamed_deltas(spark, tmp_path_factory):
    """Streaming pyramid maintenance: per-batch density deltas folded to
    totals (read_density) then rolled up — every level's mass equals the
    number of geocoded images across ALL batches, and matches the batch
    pyramid."""
    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    in_dir = str(tmp_path_factory.mktemp("pyr_in"))
    ckpt = str(tmp_path_factory.mktemp("pyr_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("pyr_snap")))
    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append").parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append").parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_geocode_to_snapshots(
        spark, in_dir, gaz, table, ckpt, res=9,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = (
        R.tile_pyramid(streaming.read_density(spark, table), levels=(9, 6, 3))
        .toPandas().sort_values(["res", "cell"]).reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    want = (
        R.tile_pyramid(T.cell_density(best, res=9), levels=(9, 6, 3))
        .toPandas().sort_values(["res", "cell"]).reset_index(drop=True)
    )
    assert got.equals(want)
    n_best = best.count()
    assert all(got[got["res"] == r]["n_images"].sum() == n_best for r in (9, 6, 3))


def test_incremental_pyramid_matches_batch(spark, tmp_path_factory):
    """stream_geocode_to_pyramid (round 4): per-batch deltas written at
    EVERY level must fold — via the single (res, cell) sum of
    read_pyramid, no per-read rollup chain — to exactly the batch
    tile_pyramid over all images, across ≥2 micro-batches."""
    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    in_dir = str(tmp_path_factory.mktemp("ipyr_in"))
    ckpt = str(tmp_path_factory.mktemp("ipyr_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("ipyr_snap")))
    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append").parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append").parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_geocode_to_pyramid(
        spark, in_dir, gaz, table, ckpt, levels=(9, 6, 3),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    # at least two distinct batch namespaces actually committed
    namespaces = {k.split("/")[0] for k in table.committed_buckets() if "/" in k}
    assert len(namespaces) >= 2, f"expected >=2 micro-batches, got {namespaces}"

    got = (
        streaming.read_pyramid(spark, table)
        .toPandas().sort_values(["res", "cell"]).reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    want = (
        R.tile_pyramid(T.cell_density(best, res=9), levels=(9, 6, 3))
        .toPandas().sort_values(["res", "cell"]).reset_index(drop=True)
    )
    assert got.astype({"n_images": "int64"}).equals(
        want.astype({"n_images": "int64"})
    )


def test_stream_decontamination_matches_batch(spark, tmp_path_factory):
    """VERDICT r4 #8: the d09/e06 shapes as CONTINUOUS stream maps —
    stateless (no watermark, append mode), value-identical to the batch
    operators on the same docs/vectors."""
    import numpy as np
    import pandas as pd

    from batch_geocode_spark.operators import dedup as D
    from batch_geocode_spark.operators import similarity as S

    rng = np.random.default_rng(5)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rows = []
    for i in range(60):
        rows.append((i, " ".join(vocab[j] for j in rng.integers(0, 8, 24))))
    docs_pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(docs_pdf, "doc_id long, text string")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)

    want = (
        D.decontamination_flags(corpus, eval_docs, n=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    idx = streaming.eval_shingle_index(eval_docs, n=4)

    # batch DataFrame through the stream map: same plan, same values
    got_batch = (
        streaming.stream_ngram_decontamination(corpus, idx, n=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got_batch.equals(want)

    # genuine streaming run over two file drops
    in_dir = str(tmp_path_factory.mktemp("decon_in"))
    corpus.filter(F.col("doc_id") < 30).coalesce(1).write.mode("append").parquet(in_dir)
    corpus.filter(F.col("doc_id") >= 30).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    out = streaming.stream_ngram_decontamination(stream, idx, n=4)
    q = (
        out.writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got_stream = (
        spark.table("decon_stream").toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got_stream.equals(want)

    # semantic sibling: streamed vectors vs batch e06 operator
    vec_rows = []
    base = rng.standard_normal((10, 8))
    for i in range(10):
        vec_rows.append((i, [float(x) for x in base[i]]))
    # plant a near-copy of eval vector 0 (vec_id 0 % 7 == 0 -> eval)
    vec_rows.append((8, [float(x) for x in base[0] + 0.01 * rng.standard_normal(8)]))
    vecs = spark.createDataFrame(
        [r for r in vec_rows if r[0] != 8] + [vec_rows[-1]],
        "vec_id long, embedding array<float>",
    )
    eval_vecs = vecs.filter(F.col("vec_id") % 7 == 0)
    corpus_vecs = vecs.filter(F.col("vec_id") % 7 != 0)
    want_sem = (
        S.semantic_decontamination(corpus_vecs, eval_vecs, threshold=0.9)
        .toPandas()
        .sort_values("corpus_id")
        .reset_index(drop=True)
    )
    # the batch e06 operator itself on a file stream: exactly the batch frame
    vec_dir = str(tmp_path_factory.mktemp("sem_in"))
    corpus_vecs.coalesce(1).write.mode("append").parquet(vec_dir)
    vstream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(vec_dir)
    vout = S.semantic_decontamination(vstream, eval_vecs, threshold=0.9)
    assert vout.isStreaming
    vq = (
        vout.writeStream.format("memory")
        .queryName("sem_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    vq.awaitTermination(300)
    got_sem_stream = (
        spark.table("sem_stream").toPandas().sort_values("corpus_id").reset_index(drop=True)
    )
    assert len(want_sem) > 0
    assert got_sem_stream.equals(want_sem)


def test_stream_semantic_decontamination_empty_eval(spark, tmp_path_factory):
    """An empty eval set flags nothing; on a streaming corpus the result
    must still be a streaming frame (a sink can attach) with zero rows."""
    from batch_geocode_spark.operators import similarity as S

    vec_dir = str(tmp_path_factory.mktemp("sem_empty_in"))
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(vec_dir)
    vstream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(vec_dir)
    no_evals = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = S.semantic_decontamination(vstream, no_evals, threshold=0.9)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("sem_empty_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("sem_empty_stream")
    assert got.columns == ["corpus_id", "n_eval_hits", "max_sim"]
    assert got.count() == 0


def test_stream_zonal_deltas_match_batch(spark, tmp_path_factory):
    """Incremental zonal statistics: cell-level deltas streamed over two
    micro-batches fold (read_zonal) to exactly the batch zonal_stats of
    the full input — n_images sums across batches and n_cells stays
    exact via countDistinct even when both batches hit the same cell."""
    from batch_geocode_spark.operators import rollups as R

    in_dir = str(tmp_path_factory.mktemp("zonal_in"))
    ckpt = str(tmp_path_factory.mktemp("zonal_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("zonal_snap")))

    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    polys = _admin_polys_local(spark)
    q = streaming.stream_zonal_deltas(
        spark, in_dir, gaz, polys, table, ckpt, res=9,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = (
        streaming.read_zonal(spark, table)
        .toPandas().sort_values("admin_id").reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    want = (
        R.zonal_stats(T.cell_density(best, res=9), polys, res=9)
        .toPandas().sort_values("admin_id").reset_index(drop=True)
    )
    assert got["admin_id"].tolist() == want["admin_id"].tolist()
    assert got["n_cells"].tolist() == want["n_cells"].tolist()
    assert got["n_images"].tolist() == want["n_images"].tolist()


def test_stream_site_weights_match_batch(spark, tmp_path_factory):
    """Incremental spatial clustering: site-weight deltas streamed over
    two micro-batches fold (read_spatial_clusters) to EXACTLY the batch
    spatial_clusters assignment of the full input — w sums and site_id
    folds by min across batches, then the identical cluster_sites tail
    runs on the folded table."""
    from batch_geocode_spark.operators import cluster as C

    in_dir = str(tmp_path_factory.mktemp("sites_in"))
    ckpt = str(tmp_path_factory.mktemp("sites_ckpt"))
    table = SnapshotTable(str(tmp_path_factory.mktemp("sites_snap")))

    images = datagen.images_to_spark(spark, 200, with_bytes=False)
    images.filter(F.col("image_id") < "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    images.filter(F.col("image_id") >= "img000000000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    gaz = datagen.gazetteer_to_spark(spark)
    q = streaming.stream_site_weights(
        spark, in_dir, gaz, table, ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    eps, min_pts, res = 2100.0, 18, 3
    got = (
        streaming.read_spatial_clusters(spark, table, eps_km=eps, min_pts=min_pts, res=res)
        .toPandas().sort_values("site_id").reset_index(drop=True)
    )
    _, best = G.geocode_images(images, gaz)
    pts = best.select(
        F.col("image_id").alias("pt_id"),
        F.col("best_lat").alias("lat"),
        F.col("best_long").alias("lng"),
    )
    want = (
        C.spatial_clusters(pts, eps_km=eps, min_pts=min_pts, res=res)
        .toPandas().sort_values("site_id").reset_index(drop=True)
    )
    for col in ("site_id", "w", "cluster", "is_core"):
        assert got[col].tolist() == want[col].tolist(), col

    # hull serving read: the streamed-and-folded site table must yield
    # the identical hull rings the batch assignment produces
    got_h = (
        C.cluster_hulls(
            streaming.read_spatial_clusters(spark, table, eps_km=eps, min_pts=min_pts, res=res)
        )
        .toPandas().sort_values(["cluster", "hull_idx"]).reset_index(drop=True)
    )
    want_h = (
        C.cluster_hulls(C.spatial_clusters(pts, eps_km=eps, min_pts=min_pts, res=res))
        .toPandas().sort_values(["cluster", "hull_idx"]).reset_index(drop=True)
    )
    assert got_h.equals(want_h)
