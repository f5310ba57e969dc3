"""Vetting pipeline: column split/merge + manual best-override overlay.

Reimplements the reference's vetting data flow as DataFrame ops:

- split_meta_geo: partition the wide table column-wise into meta columns
  and geocoding columns with a stable join key (reference:
  geocode/vet_geocode.py:52-66; the reference synthesizes ``__index =
  range(n)`` at vet_geocode.py:49 — here the key is the deterministic
  ``image_id``, required for resume, SURVEY.md §1.4).
- merge_vetted: meta ⋈ post-vet geo columns, left join (reference:
  geocode/vet_geocode.py:96-113).
- apply_vet_overlay: the human-in-the-loop 'markBest' override as an
  overlay table joined back by key — copies the chosen source's columns
  into best_* and annotates the name with ' (from {src})' (reference:
  app/templates/vet.html:131-147). The engine stage stays deterministic;
  manual choices live in data, not code.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_geocode_spark.operators.geocode import SUFFIXES


def geo_columns(df: DataFrame) -> list[str]:
    """Columns carrying geocoding results: any {prefix}_{suffix}."""
    return [c for c in df.columns if any(c.endswith(f"_{s}") for s in SUFFIXES)]


def split_meta_geo(wide: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(meta, geo): column-wise partition, both carrying the join key
    ``image_id``. The caption plays the reference's address-column role."""
    geo_cols = geo_columns(wide)
    geo = wide.select("image_id", "caption", *geo_cols)
    meta = wide.select(*[c for c in wide.columns if c not in set(geo_cols)])
    return meta, geo


def merge_vetted(meta: DataFrame, geo_postvet: DataFrame) -> DataFrame:
    """meta ⋈ post-vet geo (left join on the stable key ``image_id``)."""
    dup = [c for c in geo_postvet.columns if c in meta.columns and c != "image_id"]
    return meta.join(geo_postvet.drop(*dup), "image_id", "left")


# --------------------------------------------------------------- JSON wire
# The reference ships vetting data to the browser as
# to_json(orient='index') keyed by '<row index>: <address>' (reference:
# geocode/vet_geocode.py:75-85) and loads the edited JSON back, stripping
# the '^\d+: ' key prefix (reference: geocode/vet_geocode.py:87-93,
# geocode/utilities.py:48-66, strip at utilities.py:62). The engine
# analog keeps the same wire format: per-row (vet_key, payload) pairs
# built with F.to_json (SURVEY F7/F11), parsed back with F.from_json +
# F.regexp_replace (SURVEY P10) — all Column expressions, no UDF.


def vet_value_schema(geo: DataFrame) -> T.StructType:
    """Schema of the JSON payload: every geo column except the caption
    (the caption rides in the key, reference-style)."""
    return T.StructType([f for f in geo.schema.fields if f.name != "caption"])


def to_vet_payload(geo: DataFrame) -> DataFrame:
    """(vet_key, payload): the reference's orient='index' rows as a
    DataFrame — vet_key = '<idx>: <caption>' with idx a deterministic
    0-based rank over ``image_id`` (the reference synthesizes
    ``__index = range(n)``; a rank over the stable key reproduces that
    deterministically under any partitioning). payload = to_json of all
    other geo columns. The global window is fine here by design:
    vetting batches are human-reviewed and therefore small."""
    idx = F.row_number().over(W.orderBy("image_id")) - 1
    value_cols = [c for c in geo.columns if c != "caption"]
    return geo.select(
        F.concat(idx.cast("string"), F.lit(": "), F.col("caption")).alias("vet_key"),
        F.to_json(F.struct(*value_cols)).alias("payload"),
    )


def parse_vet_payload(payload_df: DataFrame, value_schema: T.StructType) -> DataFrame:
    """Inverse of to_vet_payload: strip the '^\\d+: ' key prefix back to
    the caption (reference utilities.py:62) and explode the JSON payload
    through from_json into typed columns."""
    return payload_df.select(
        F.regexp_replace(F.col("vet_key"), r"^\d+: ", "").alias("caption"),
        F.from_json(F.col("payload"), value_schema).alias("v"),
    ).select("caption", "v.*")


def vet_json_document(geo: DataFrame) -> str:
    """Driver-side assembly of the exact reference wire format — ONE
    JSON object {vet_key: {col: value}} (pandas to_json(orient='index'))
    for the browser exchange. Driver-side by design: this string goes to
    a human's screen, so the input is small."""
    rows = to_vet_payload(geo).collect()
    return json.dumps(
        {r["vet_key"]: json.loads(r["payload"]) for r in rows}, ensure_ascii=False
    )


def load_vet_json_document(spark, doc: str, value_schema: T.StructType) -> DataFrame:
    """Load an edited vet JSON document back into a typed DataFrame
    (reference load_vetted_data_json / json_to_dataframe)."""
    obj = json.loads(doc)
    pairs = [(k, json.dumps(v, ensure_ascii=False)) for k, v in obj.items()]
    payload_df = spark.createDataFrame(pairs, "vet_key string, payload string")
    return parse_vet_payload(payload_df, value_schema)


def apply_vet_overlay(wide: DataFrame, overlay: DataFrame) -> DataFrame:
    """Apply manual best-choices: ``overlay(image_id, chosen_prefix)`` rows
    overwrite that row's best_* block from the chosen source's columns,
    with the reference's ' (from {src})' name annotation. Rows absent
    from the overlay keep their automatic composite best."""
    joined = wide.join(
        F.broadcast(overlay.select("image_id", "chosen_prefix")), "image_id", "left"
    )
    prefixes = sorted({c[: c.rindex("_")] for c in geo_columns(wide)} - {"best"})
    out_cols = []
    for c in wide.columns:
        if not c.startswith("best_"):
            out_cols.append(F.col(c))
            continue
        suffix = c[len("best_") :]
        expr = F.col(c)
        for p in prefixes:
            src_col = f"{p}_{suffix}"
            if src_col not in wide.columns:
                continue
            chosen = F.col("chosen_prefix") == p
            val = F.col(src_col)
            if suffix == "name":
                val = F.when(
                    val.isNotNull(), F.concat(val, F.lit(f" (from {p})"))
                ).otherwise(F.lit(p))
            expr = F.when(chosen, val).otherwise(expr)
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)
