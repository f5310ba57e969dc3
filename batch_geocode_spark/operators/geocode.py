"""The geocoding core: broadcast gazetteer join + vet + composite-best.

Replaces the reference's per-row loop of up-to-4 blocking HTTP GETs
(reference: geocode/batch_geocode.py:173-182, geocode/query_funcs.py:342-349)
with one broadcast hash equi-join against a multi-source gazetteer table,
then reproduces the reference's vetting semantics exactly as DataFrame
aggregates:

- candidate point-set model: a candidate with a bounding box contributes
  its two corner points, a point-only candidate contributes one point
  (reference: geocode/query_funcs.py:376-394 GM, 424-439 OSM corners;
  452-469 GN, 485-506 FG single points)
- candidate centroid = mean over its points, "buffer" = haversine km of
  the bbox diagonal (reference: geocode/query_funcs.py:254-278)
- vet: drop candidates with buffer > max_buffer; composite "best" from
  the union of surviving candidates' points, accepted iff its own
  diagonal ≤ max_buffer, type = 'Composite of {n} geocoded locations'
  (reference: geocode/query_funcs.py:193-219)
- top-k per source via window rank (reference: geocode/query_funcs.py:376)

Scale notes (10^12-row design):
- the gazetteer is the ONLY broadcast state; the images side never
  shuffles for the join itself.
- `select` drops the `bytes` payload before the join so column pruning
  actually removes the image payload from the geocode path.
- no key dedup: every row probes the broadcast gazetteer, identical
  captions included. The reference re-queries per row too
  (geocode/batch_geocode.py:173-182), but there each lookup is an HTTP
  call; here it is a hash probe, and geocoding `distinct(loc_key)` then
  re-joining measured ~2.7× SLOWER at sf0.1 (it scans and regexes the
  input twice and adds a full-input distinct shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_geocode_spark.functions.geo import bbox_diag_km, haversine_km, norm_name

DEFAULT_MAX_BUFFER_KM = 15.0  # reference: geocode/batch_geocode.py:143-149
DEFAULT_RESULTS_PER_SOURCE = 2  # reference: geocode/batch_geocode.py:139-142
SUFFIXES = ["name", "type", "lat", "long", "buffer"]  # reference: geocode/utilities.py:42-45


def extract_loc_key(caption) -> F.Column:
    """Caption → normalized gazetteer join key.

    Location-string extraction: the fixture/caption grammar places the
    location between ' near ' and an optional ', <country>' tail — a
    regexp is the NER-lite stand-in (pure Column expr, no UDF).
    """
    raw = F.regexp_extract(caption, r"\bnear ([^,]+)", 1)
    return F.when(raw != "", norm_name(raw))


def build_candidates(
    images: DataFrame,
    gazetteer: DataFrame,
    n_results: int = DEFAULT_RESULTS_PER_SOURCE,
) -> DataFrame:
    """Long-form candidates: one row per (image_id, source, rank).

    Plan shape: [images: extract key, drop payload] ⋈_broadcast
    [gazetteer: rank ≤ n per (name, source)] — a single broadcast hash
    join, no shuffle on the big side, one probe per row (see the module
    notes for why keys are not deduplicated).
    """
    gaz = gazetteer.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("name_norm", "source").orderBy("api_rank", "gaz_id")
        ),
    ).filter(F.col("rank") <= n_results)
    gaz = _candidate_geometry(gaz)

    keyed = images.select("image_id", extract_loc_key(F.col("caption")).alias("loc_key"))
    joined = keyed.join(F.broadcast(gaz), keyed.loc_key == gaz.name_norm, "inner")
    return joined.drop("loc_key", "name_norm")


def _candidate_geometry(gaz: DataFrame) -> DataFrame:
    """Attach the reference's point-set geometry to each gazetteer row."""
    has_bbox = F.col("bb_w").isNotNull()
    return (
        gaz.withColumn("n_pts", F.when(has_bbox, F.lit(2)).otherwise(F.lit(1)))
        .withColumn("min_lng", F.when(has_bbox, F.col("bb_w")).otherwise(F.col("lng")))
        .withColumn("max_lng", F.when(has_bbox, F.col("bb_e")).otherwise(F.col("lng")))
        .withColumn("min_lat", F.when(has_bbox, F.col("bb_s")).otherwise(F.col("lat")))
        .withColumn("max_lat", F.when(has_bbox, F.col("bb_n")).otherwise(F.col("lat")))
        .withColumn("sum_lng", F.col("min_lng") + F.when(has_bbox, F.col("max_lng")).otherwise(F.lit(0.0)))
        .withColumn("sum_lat", F.col("min_lat") + F.when(has_bbox, F.col("max_lat")).otherwise(F.lit(0.0)))
        .withColumn("cand_lng", F.col("sum_lng") / F.col("n_pts"))
        .withColumn("cand_lat", F.col("sum_lat") / F.col("n_pts"))
        .withColumn(
            "buffer",
            bbox_diag_km(F.col("min_lng"), F.col("min_lat"), F.col("max_lng"), F.col("max_lat")),
        )
    )


def prefix_key(c: F.Column) -> F.Column:
    """First-2-token prefix of a normalized name — the FuzzyG-style
    fuzzy join key (reference: geocode/query_funcs.py:472-506 'fuzzy'
    service; SURVEY.md J1 secondary key). A plain string key: at scale
    the join hashes it anyway, so a prehash would only save bytes."""
    return F.regexp_extract(c, r"^(\S+\s+\S+)", 1)


def fuzzy_candidates(images: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Fuzzy fallback: images whose loc_key has NO exact gazetteer match
    are joined on the first-2-token prefix key instead. Same broadcast
    plan shape as the exact join; top-``DEFAULT_RESULTS_PER_SOURCE`` per
    (image, source) by (api_rank, gaz_id)."""
    # rank per (prefix, source) on the SMALL side before the join — the
    # rank depends only on gazetteer rows, so this is equivalent to a
    # per-image post-join rank but costs no shuffle of the big side
    gaz = (
        gazetteer.withColumn("gaz_prefix", prefix_key(F.col("name_norm")))
        .where(F.col("gaz_prefix") != "")
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("gaz_prefix", "source").orderBy("api_rank", "gaz_id")
            ),
        )
        .filter(F.col("rank") <= DEFAULT_RESULTS_PER_SOURCE)
    )
    gaz = _candidate_geometry(gaz)
    keyed = images.select(
        "image_id", extract_loc_key(F.col("caption")).alias("loc_key")
    ).where(F.col("loc_key").isNotNull())
    exact_names = gazetteer.select(F.col("name_norm").alias("loc_key")).distinct()
    misses = keyed.join(F.broadcast(exact_names), "loc_key", "left_anti").withColumn(
        "img_prefix", prefix_key(F.col("loc_key"))
    ).where(F.col("img_prefix") != "")
    return misses.join(
        F.broadcast(gaz), F.col("img_prefix") == F.col("gaz_prefix"), "inner"
    ).drop("loc_key", "img_prefix", "gaz_prefix", "name_norm")


def vet_candidates(candidates: DataFrame, max_buffer: float = DEFAULT_MAX_BUFFER_KM) -> DataFrame:
    """Buffer vetting (reference: geocode/query_funcs.py:199-207)."""
    return candidates.filter(F.col("buffer") <= F.lit(max_buffer))


def composite_best(
    vetted: DataFrame, max_buffer: float = DEFAULT_MAX_BUFFER_KM
) -> DataFrame:
    """Per-image composite 'best' (reference: geocode/query_funcs.py:209-219).

    Union of surviving candidates' points → combined bbox + point-mean
    centroid; accepted iff the combined diagonal ≤ max_buffer.
    One shuffle, partial+final aggregation (Catalyst map-side combine).
    """
    agg = vetted.groupBy("image_id").agg(
        F.sum("n_pts").alias("tot_pts"),
        F.sum("sum_lng").alias("tot_lng"),
        F.sum("sum_lat").alias("tot_lat"),
        F.min("min_lng").alias("c_min_lng"),
        F.min("min_lat").alias("c_min_lat"),
        F.max("max_lng").alias("c_max_lng"),
        F.max("max_lat").alias("c_max_lat"),
        F.count(F.lit(1)).alias("num_valid"),
    )
    diag = bbox_diag_km(
        F.col("c_min_lng"), F.col("c_min_lat"), F.col("c_max_lng"), F.col("c_max_lat")
    )
    return (
        agg.withColumn("best_buffer", diag)
        .filter(F.col("best_buffer") <= F.lit(max_buffer))
        .select(
            "image_id",
            F.lit("Vetted").alias("best_name"),
            F.concat(
                F.lit("Composite of "), F.col("num_valid"), F.lit(" geocoded locations")
            ).alias("best_type"),
            (F.col("tot_lat") / F.col("tot_pts")).alias("best_lat"),
            (F.col("tot_lng") / F.col("tot_pts")).alias("best_long"),
            F.col("best_buffer"),
            F.col("num_valid"),
        )
    )


def geocode_images(
    images: DataFrame,
    gazetteer: DataFrame,
    n_results: int = DEFAULT_RESULTS_PER_SOURCE,
    max_buffer: float = DEFAULT_MAX_BUFFER_KM,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline → (vetted long-form candidates, best per image)."""
    cands = build_candidates(images, gazetteer, n_results=n_results)
    vetted = vet_candidates(cands, max_buffer=max_buffer)
    best = composite_best(vetted, max_buffer=max_buffer)
    return vetted, best


DEFAULT_SOURCES = ["GM", "OSM", "GN", "FG"]  # reference: geocode/batch_geocode.py:139-142


def wide_prefix_grid(
    sources: list[str] | None = None,
    n_results: int = DEFAULT_RESULTS_PER_SOURCE,
) -> list[str]:
    """The static {source}{rank} prefix grid the pipeline can emit: it
    is fully determined by the configured sources × results-per-source,
    so the wide layout's schema never needs a data-discovery job."""
    return [f"{s}{r}" for s in (sources or DEFAULT_SOURCES) for r in range(1, n_results + 1)]


def to_wide(
    images: DataFrame,
    vetted: DataFrame,
    best: DataFrame,
    prefixes: list[str] | None = None,
) -> DataFrame:
    """Reference-parity wide layout: input columns + {prefix}_{suffix}
    with prefixes sorted case-insensitively and 'best' first
    (reference: geocode/batch_geocode.py:23-38; suffixes
    geocode/utilities.py:42-45).

    The default prefix set is the STATIC source×rank grid
    (``wide_prefix_grid()``) — the schema is configuration, not data,
    so the layout costs zero extra Spark jobs. Pass an explicit list for
    a custom grid.

    With the default grid, a vetted row whose prefix falls OUTSIDE the
    grid fails the job with a per-row guard (still zero extra jobs)
    instead of silently vanishing from the wide layout — callers with
    non-standard source mixes are pointed at an explicit list. An
    EXPLICIT prefix list skips the guard: that is a deliberate
    projection onto a sub-grid.
    """
    prefixed = vetted.select(
        "image_id",
        F.concat(F.col("source"), F.col("rank")).alias("prefix"),
        F.col("name"),
        F.col("loc_type").alias("type"),
        F.col("cand_lat").alias("lat"),
        F.col("cand_lng").alias("long"),
        F.col("buffer"),
    )
    if prefixes is None:
        prefixes = wide_prefix_grid()
        prefixed = prefixed.withColumn(
            "prefix",
            F.when(F.col("prefix").isin(prefixes), F.col("prefix")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("to_wide: vetted contains prefix '"),
                        F.col("prefix"),
                        F.lit(
                            "' outside the configured source-by-rank grid; "
                            "pass an explicit prefixes list"
                        ),
                    )
                )
            ),
        )
    prefixes = sorted(prefixes, key=str.lower)
    exprs = [
        F.first(F.when(F.col("prefix") == p, F.col(s)), ignorenulls=True).alias(f"{p}_{s}")
        for p in prefixes
        for s in SUFFIXES
    ]
    pivoted = prefixed.groupBy("image_id").agg(*exprs)
    wide = (
        images.join(pivoted, "image_id", "left")
        .join(best.drop("num_valid"), "image_id", "left")
    )
    ordered = [c for c in images.columns] + [
        f"{p}_{s}" for p in ["best"] + prefixes for s in SUFFIXES
    ]
    return wide.select(*[F.col(c) if c in wide.columns else F.lit(None).alias(c) for c in ordered])
