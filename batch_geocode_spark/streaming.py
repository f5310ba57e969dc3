"""Structured-Streaming ingestion (extension beyond the reference, which
is strictly batch — SURVEY.md §2.9).

Two shapes:

- stream_geocode_to_snapshots and its siblings (pyramid, zonal, sites,
  kNN): micro-batch ingestion of image+caption parquet drops →
  per-batch geocode (stream-static broadcast join against the
  gazetteer) → a delta appended to a SnapshotTable via foreachBatch.
  foreachBatch is the idiomatic way to reuse the exact batch operators
  (incl. multi-stage aggregation and windows) under a streaming
  trigger, and every such sink gets exactly-once output from one
  mechanism, ``_snapshot_delta_batch``'s batch-scoped namespaces.
  A stateless batch operator needs no stream copy at all:
  ``similarity.semantic_decontamination`` runs unchanged on a stream.

- windowed_event_counts: a genuine watermarked event-time aggregation
  (tumbling window + late-data bound) for stream tables like ``events``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import tiles as T
from batch_geocode_spark.snapshots import SnapshotTable, write_snapshotted

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def _image_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """File-stream source over image parquet drops in ``input_dir``."""
    reader = spark.readStream.schema(IMAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _start(stream: DataFrame, process_batch, checkpoint_dir: str):
    """Start an availableNow foreachBatch query: ``process_batch(batch_df,
    batch_id)`` runs once per micro-batch over the drops present at
    start, and the checkpoint records source offsets so a restart
    replays only the last uncommitted batch."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _snapshot_delta_batch(
    gazetteer: DataFrame, table: SnapshotTable, key_col: str, job_prefix: str, to_delta
):
    """foreachBatch body shared by every sink: geocode the batch, turn
    its frames into a delta with ``to_delta(vetted, best)``, and append
    the delta under the batch-scoped namespace ``batch-<id>``. Later
    batches never collide with earlier ones, and a replayed batch reuses
    its namespace, whose committed buckets ``write_snapshotted`` skips —
    so a replay leaves exactly one copy of the batch's rows."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vetted, best = G.geocode_images(batch_df, gazetteer)
        delta = to_delta(vetted, best).withColumn("batch_id", F.lit(int(batch_id)))
        write_snapshotted(
            delta,
            table,
            key_col=key_col,
            n_buckets=8,
            group_size=8,
            job_id=f"{job_prefix}-{batch_id}",
            namespace=f"batch-{batch_id}",
        )

    return process_batch


def stream_geocode_to_snapshots(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    res: int = 9,
    max_files_per_trigger: int | None = None,
):
    """Stream image parquet drops → geocode → cell density → snapshot.

    Each micro-batch runs the full batch pipeline (broadcast join, vet,
    composite-best, cell encode, density) and appends a density delta
    under a batch-scoped snapshot namespace (``batch-<id>``), so later
    batches never collide with or overwrite earlier ones; readers
    aggregate the deltas with ``read_density``. Restart safety =
    streaming checkpoint (source offsets) + snapshot manifest (committed
    output): a replayed batch reuses its namespace and is idempotent."""
    process_batch = _snapshot_delta_batch(
        gazetteer, table, "cell", "stream-batch",
        lambda _, best: T.cell_density(best, res=res),
    )
    return _start(
        _image_stream(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir
    )


def stream_exact_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """STATEFUL streaming exact dedup: drop rows whose key was already
    seen, with state bounded by the watermark
    (``dropDuplicatesWithinWatermark`` — duplicates are only guaranteed
    dropped while their first occurrence is younger than the watermark,
    which is exactly the bounded-state contract a 10^12-row stream
    needs; unbounded dropDuplicates state would grow forever). Works on
    batch DataFrames too (falls back to plain dropDuplicates there)."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if ev.isStreaming:
        return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)
    return ev.dropDuplicates(key_cols)


def stream_pip_matches(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    polygons: DataFrame,
    res: int = 4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CONTINUOUS stream-static point-in-polygon: streaming images →
    candidate geocodes (stream-static broadcast join, no aggregation) →
    cell-cover broadcast join → exact ray-cast mapInPandas. Every stage
    is append-mode stream-native (stateless maps + stream-static inner
    joins), so this needs no watermark, no foreachBatch, and emits
    matches per candidate row as they arrive. Returns the streaming
    DataFrame — attach any sink.

    Per-candidate (not per-image composite-best): the composite is a
    per-image aggregate and therefore a STATEFUL op on a stream; the
    aggregate variant runs via foreachBatch (stream_geocode_to_snapshots
    shape) instead."""
    from batch_geocode_spark.operators import pip as PIP

    stream = _image_stream(spark, input_dir, max_files_per_trigger)
    vetted = G.vet_candidates(G.build_candidates(stream, gazetteer))
    return PIP.pip_join(
        vetted, polygons, res=res, id_col="image_id",
        lat_col="cand_lat", lng_col="cand_lng",
    )


def stream_knn_to_snapshots(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    k: int = 3,
    max_files_per_trigger: int | None = None,
):
    """Stream-static kNN: per-image candidate ranking needs a window
    over image_id — a stateful shape — so each micro-batch runs the
    batch ``knn_within_image`` over its vetted candidates (an image's
    candidates arrive together in one file drop, so per-batch windows
    are exact) and appends the rows under the batch-scoped namespace
    ``batch-<id>``: the same exactly-once contract as
    stream_geocode_to_snapshots, so a replayed batch is idempotent."""
    from batch_geocode_spark.operators import knn as KNN

    process_batch = _snapshot_delta_batch(
        gazetteer, table, "image_id", "stream-knn-batch",
        lambda vetted, _: KNN.knn_within_image(vetted, k=k),
    )
    return _start(
        _image_stream(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir
    )


def read_density(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """Aggregate streamed density deltas to current per-cell totals."""
    return table.read(spark).groupBy("cell").agg(F.sum("n_images").alias("n_images"))


def stream_geocode_to_pyramid(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    levels: tuple[int, ...] = (9, 6, 3),
    max_files_per_trigger: int | None = None,
):
    """INCREMENTAL pyramid maintenance (VERDICT r3 #6): each micro-batch
    appends its density deltas at EVERY pyramid level — the rollup
    commutes with the sum, so per-level deltas summed over batches equal
    the pyramid of the summed base density. The serving read
    (``read_pyramid``) is then ONE (res, cell) aggregation over the
    delta table: per-read cost no longer re-runs the chained rollup over
    all base-level deltas, and the hot serving table stays hot under
    continuous ingestion. The per-batch pyramid is cheap: it rolls up
    the BATCH's cells (thousands), never the corpus.

    Same exactly-once contract as stream_geocode_to_snapshots: batch-
    scoped snapshot namespaces make replays idempotent."""
    from batch_geocode_spark.operators.rollups import tile_pyramid

    process_batch = _snapshot_delta_batch(
        gazetteer, table, "cell", "stream-pyr-batch",
        lambda _, best: tile_pyramid(T.cell_density(best, res=levels[0]), levels=levels),
    )
    return _start(
        _image_stream(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir
    )


def read_pyramid(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """Serving read over incrementally-maintained pyramid deltas
    (``stream_geocode_to_pyramid``): one (res, cell) sum — no rollup
    chain, cost independent of pyramid depth and (post-compaction)
    of batch count."""
    return (
        table.read(spark)
        .groupBy("res", "cell")
        .agg(F.sum("n_images").alias("n_images"))
    )


def stream_zonal_deltas(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    polygons: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    res: int = 9,
    max_files_per_trigger: int | None = None,
):
    """INCREMENTAL zonal statistics (the streaming sibling of g17):
    each micro-batch geocodes its images, computes the BATCH's cell
    density, labels those cells with their admin zone (cell-center PIP
    against the static broadcast polygons) and appends CELL-level
    deltas. Per-zone image mass commutes with the batch sum, and
    keeping deltas at cell granularity keeps n_cells exact too —
    ``read_zonal`` recovers both with one aggregation
    (countDistinct(cell), sum(n_images)).

    Per-batch cost scales with the batch's cells (thousands), never the
    corpus; same exactly-once contract as stream_geocode_to_pyramid
    (batch-scoped snapshot namespaces make replays idempotent)."""
    from batch_geocode_spark.operators.rollups import zonal_cells

    process_batch = _snapshot_delta_batch(
        gazetteer, table, "cell", "stream-zonal-batch",
        lambda _, best: zonal_cells(T.cell_density(best, res=res), polygons, res=res),
    )
    return _start(
        _image_stream(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir
    )


def read_zonal(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """Serving read over incrementally-maintained zonal deltas
    (``stream_zonal_deltas``): one keyed aggregation — n_images sums
    across batch deltas, n_cells = countDistinct(cell) stays exact
    when the same cell receives mass in several batches."""
    return (
        table.read(spark)
        .groupBy("admin_id", "iso2", "name")
        .agg(
            F.countDistinct("cell").alias("n_cells"),
            F.sum("n_images").alias("n_images"),
        )
    )


def stream_site_weights(
    spark: SparkSession,
    input_dir: str,
    gazetteer: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """INCREMENTAL weighted-site maintenance (the streaming sibling of
    g18 spatial clustering): each micro-batch geocodes its images and
    appends per-coordinate deltas (lat, lng, w, site_id = min image id
    in the batch at that coordinate). Point counts sum across batches
    and min-ids fold by min, so ``read_spatial_clusters`` recovers the
    exact batch site table with one aggregation and clusters it through
    the identical ``cluster.cluster_sites`` path.

    The expensive full-data pass (geocode + groupBy coordinates) is the
    per-batch increment; clustering itself runs at READ time on the
    folded site table — gazetteer-scale, thousands of rows at 100 TB —
    so recompute-on-read serving is cheap and always consistent."""
    process_batch = _snapshot_delta_batch(
        gazetteer, table, "site_key", "stream-sites-batch",
        lambda _, best: (
            best.groupBy(
                F.col("best_lat").alias("lat"), F.col("best_long").alias("lng")
            )
            .agg(F.min("image_id").alias("site_id"), F.count(F.lit(1)).alias("w"))
            .withColumn("site_key", F.concat_ws(",", "lat", "lng"))
        ),
    )
    return _start(
        _image_stream(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir
    )


def read_spatial_clusters(
    spark: SparkSession,
    table: SnapshotTable,
    eps_km: float,
    min_pts: int,
    res: int,
) -> DataFrame:
    """Serving read over incrementally-maintained site-weight deltas
    (``stream_site_weights``): fold deltas to the exact batch site
    table (w sums, site_id folds by min) and run the identical DBSCAN
    tail ``cluster.cluster_sites`` — same assignment schema as the
    batch ``spatial_clusters``."""
    from batch_geocode_spark.operators.cluster import cluster_sites

    sites = (
        table.read(spark)
        .groupBy("lat", "lng")
        .agg(F.min("site_id").alias("site_id"), F.sum("w").alias("w"))
    )
    return cluster_sites(sites, eps_km=eps_km, min_pts=min_pts, res=res)


def eval_shingle_index(eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """ONE-row static index of an eval/benchmark split for the stateless
    streaming decontamination map: ``eval_map`` is
    shingle → sorted array of eval doc_ids containing it. Broadcast
    side of a stream-static cross join — the same MBs-per-benchmark
    scale the batch d09 shape broadcasts."""
    from batch_geocode_spark.operators.dedup import word_shingles

    sh = word_shingles(eval_docs, n=n)
    return sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("eval_ids")
    ).agg(
        F.map_from_entries(F.collect_list(F.struct("shingle", "eval_ids"))).alias("eval_map")
    )


def stream_ngram_decontamination(
    docs: DataFrame,
    eval_index: DataFrame,
    n: int = 8,
) -> DataFrame:
    """CONTINUOUS n-gram decontamination (the d09 shape as a stream
    map): each arriving doc is checked against the broadcast eval
    shingle index with row-local array expressions ONLY — no explode →
    re-aggregate, so there is no stateful operator, no watermark, and
    append mode works end-to-end. Emits one row per CONTAMINATED doc:
    (doc_id, n_shared_shingles, n_eval_docs) — identical values to the
    batch ``dedup.decontamination_flags`` (pytest-pinned parity).

    ``eval_index`` is ``eval_shingle_index(eval_docs)`` — build it once
    per eval-set version; the stream side never shuffles. Works on
    batch DataFrames too (same plan)."""
    from batch_geocode_spark.operators.dedup import shingle_array

    shared = F.array_intersect(
        F.array_distinct(shingle_array(n)), F.map_keys(F.col("eval_map"))
    )
    hit_ids = F.array_distinct(
        F.flatten(F.transform(shared, lambda s: F.element_at(F.col("eval_map"), s)))
    )
    return (
        docs.crossJoin(F.broadcast(eval_index))
        .withColumn("n_shared_shingles", F.size(shared).cast("long"))
        .withColumn("n_eval_docs", F.size(hit_ids).cast("long"))
        .filter(F.col("n_shared_shingles") > 0)
        .select("doc_id", "n_shared_shingles", "n_eval_docs")
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts — works on a streaming
    OR batch DataFrame (same plan; rows more than 2 hours late are
    dropped in streaming mode)."""
    # watermarks require TIMESTAMP (not NTZ); session TZ is UTC so the
    # cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user sessionization via the BUILT-IN session window (gap-based
    merging) — expressible natively, so no custom state needed (the
    preference order from the build rules). Works batch or streaming."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def ewma_cell_density(
    images_stream: DataFrame,
    gazetteer: DataFrame,
    alpha: float = 0.5,
    res: int = 9,
):
    """CUSTOM stateful operator: per-cell exponentially-decayed image
    density across micro-batches — an evolving heatmap no built-in
    aggregation expresses (state carries the EWMA between triggers).

    state per cell: (ewma, n_batches). Each trigger folds the batch
    count c in as ewma' = alpha*c + (1-alpha)*ewma. Emits the updated
    row per touched cell every trigger (update mode), through
    ``applyInPandasWithState`` (GroupState).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = (
        images_stream.select("image_id", G.extract_loc_key(F.col("caption")).alias("loc_key"))
        .join(F.broadcast(gazetteer.filter(F.col("api_rank") == 1)),
              F.col("loc_key") == F.col("name_norm"), "inner")
        .select("image_id", cell_encode_col(res))
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        count = 0
        for pdf in pdfs:
            count += len(pdf)
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = 0.0, 0
        ewma = alpha * count + (1.0 - alpha) * ewma
        n += 1
        state.update((float(ewma), int(n)))
        yield pd.DataFrame({"cell": [key[0]], "ewma": [ewma], "n_batches": [n]})

    return keyed.groupBy("cell").applyInPandasWithState(
        update,
        outputStructType="cell long, ewma double, n_batches int",
        stateStructType="ewma double, n_batches int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cell_encode_col(res: int):
    from batch_geocode_spark.functions.cells import cell_encode

    return cell_encode(F.col("lat"), F.col("lng"), res).alias("cell")
