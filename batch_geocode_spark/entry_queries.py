"""Driver-contract query battery: every SURVEY.md §2 operator family as
a named (Spark DataFrame, DuckDB oracle SQL) pair over the driver's
parquet tables at /root/testdata/sf*.

Design for cross-engine value-hash equality:
- geo tables (gazetteer/images/admin grid) are DERIVED from the driver
  tables with pure integer arithmetic shared verbatim between Spark SQL
  and DuckDB (the *same SQL text* runs in both), so both engines see
  bit-identical inputs;
- double sums use exact DECIMAL accumulation cast back to DOUBLE
  (parallel float summation order would otherwise drift vs DuckDB);
- scalar geo doubles are rounded to 6 dp at the final projection only;
- every window ORDER BY carries a unique tiebreak column.

The Spark side of each geo query exercises the real engine operators
(batch_geocode_spark.operators.*), not spark.sql of the oracle text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import (
    cell_encode,
    cell_encode_sql,
    quadkey,
    quadkey_sql,
)
from batch_geocode_spark.functions.geo import haversine_km, haversine_sql
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import knn as KNN
from batch_geocode_spark.operators import pip as PIP
from batch_geocode_spark.operators import rollups as R

ALL_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

TILE_RES = 9
KNN_K = 3

# ---------------------------------------------------------------------------
# Shared derivation SQL (identical text runs in Spark SQL and DuckDB).
# Place coordinates depend on the *place id* so the same place under
# different sources is a few km apart (exercises buffer vet + composite).
# ---------------------------------------------------------------------------
_PID = "(s_suppkey % 50)"
_LAT = f"((({_PID} * 7919) % 14000) / 100.0 - 70.0 + (s_suppkey % 7) / 1000.0)"
_LNG = f"((({_PID} * 104729) % 35000) / 100.0 - 175.0 + (s_suppkey % 11) / 1000.0)"
# % 5 = 4 so oversize bboxes land on caption-reachable places (pid%10<8)
_HALF = "(CASE WHEN s_suppkey % 5 = 4 THEN 0.3 ELSE 0.01 END)"
_HASBB = "(s_suppkey % 4 <= 1)"  # GM, OSM carry bboxes; GN/FG point-only

GAZ_SQL = f"""
SELECT
  s_suppkey AS gaz_id,
  concat('placeville ', CAST({_PID} AS STRING)) AS name,
  concat('placeville ', CAST({_PID} AS STRING)) AS name_norm,
  CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 'GM' WHEN 1 THEN 'OSM'
       WHEN 2 THEN 'GN' ELSE 'FG' END AS source,
  CAST(s_suppkey % 2 AS INT) + 1 AS api_rank,
  {_LAT} AS lat,
  {_LNG} AS lng,
  CASE WHEN {_HASBB} THEN {_LNG} - {_HALF} END AS bb_w,
  CASE WHEN {_HASBB} THEN {_LAT} - {_HALF} END AS bb_s,
  CASE WHEN {_HASBB} THEN {_LNG} + {_HALF} END AS bb_e,
  CASE WHEN {_HASBB} THEN {_LAT} + {_HALF} END AS bb_n,
  CASE CAST({_PID} % 3 AS INT) WHEN 0 THEN 'locality' WHEN 1 THEN 'admin'
       ELSE 'populated place' END AS loc_type,
  concat('c', CAST({_PID} % 10 AS STRING)) AS iso2
FROM supplier
"""

IMAGES_SQL = """
SELECT
  concat('img', CAST(o_orderkey AS STRING)) AS image_id,
  CASE WHEN o_orderkey % 10 < 8
    THEN concat('A photo of a scene near placeville ',
                CAST(o_orderkey % 50 AS STRING), ', somewhere')
  WHEN o_orderkey % 10 = 8
    THEN concat('A photo of a scene near placeville ',
                CAST(o_orderkey % 50 AS STRING), ' district, somewhere')
    ELSE 'A photo of an empty field' END AS caption
FROM orders
"""

# 5×5 world grid of admin rectangles from nation; +0.0005 offset keeps
# every derived coordinate (multiples of 0.001) off polygon boundaries
ADMIN_SQL = """
SELECT
  n_nationkey AS admin_id,
  concat('c', CAST(n_nationkey % 10 AS STRING)) AS iso2,
  0 AS admin_level,
  n_name AS name,
  CAST(-180.0 + 0.0005 + (n_nationkey % 5) * 72.0 AS DOUBLE) AS bb_w,
  CAST(-180.0 + 0.0005 + (n_nationkey % 5) * 72.0 + 72.0 AS DOUBLE) AS bb_e,
  CAST(-90.0 + 0.0005 + CAST(floor(n_nationkey / 5.0) AS BIGINT) * 36.0 AS DOUBLE) AS bb_s,
  CAST(-90.0 + 0.0005 + CAST(floor(n_nationkey / 5.0) AS BIGINT) * 36.0 + 36.0 AS DOUBLE) AS bb_n
FROM nation
"""

_HAV_MINMAX = haversine_sql("min_lat", "min_lng", "max_lat", "max_lng")

# the vetted-candidates CTE chain — mirrors operators/geocode.py exactly
GEO_CTES = f"""
WITH gaz AS ({GAZ_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY name_norm, source
                               ORDER BY api_rank, gaz_id) AS rank
  FROM gaz
),
geom AS (
  SELECT *,
    CASE WHEN bb_w IS NOT NULL THEN 2 ELSE 1 END AS n_pts,
    COALESCE(bb_w, lng) AS min_lng, COALESCE(bb_e, lng) AS max_lng,
    COALESCE(bb_s, lat) AS min_lat, COALESCE(bb_n, lat) AS max_lat
  FROM ranked WHERE rank <= 2
),
geom2 AS (
  SELECT *,
    min_lng + CASE WHEN n_pts = 2 THEN max_lng ELSE 0.0 END AS sum_lng,
    min_lat + CASE WHEN n_pts = 2 THEN max_lat ELSE 0.0 END AS sum_lat,
    {_HAV_MINMAX} AS buffer
  FROM geom
),
images AS ({IMAGES_SQL}),
keyed AS (
  SELECT image_id,
         lower(trim(regexp_extract(caption, 'near ([^,]+)', 1))) AS loc_key
  FROM images
  WHERE regexp_extract(caption, 'near ([^,]+)', 1) <> ''
),
vetted AS (
  SELECT k.image_id, g.*
  FROM keyed k JOIN geom2 g ON k.loc_key = g.name_norm
  WHERE g.buffer <= 15.0
),
best AS (
  SELECT image_id,
    'Vetted' AS best_name,
    concat('Composite of ', CAST(count(*) AS STRING), ' geocoded locations') AS best_type,
    sum(sum_lat) / sum(n_pts) AS best_lat,
    sum(sum_lng) / sum(n_pts) AS best_long,
    {haversine_sql("min(min_lat)", "min(min_lng)", "max(max_lat)", "max(max_lng)")} AS best_buffer,
    count(*) AS num_valid
  FROM vetted
  GROUP BY image_id
  HAVING {haversine_sql("min(min_lat)", "min(min_lng)", "max(max_lat)", "max(max_lng)")} <= 15.0
)
"""


# applicationId -> sf_dir currently registered. View registration is
# pure metadata (the data always computes from parquet at action time),
# but spark.read.parquet pays file-index/footer work per table: ~0.5 s
# per _views call at sf0.1 (measured, bench_extra backbone r7), and the
# geo queries call it twice per invocation. Memoize per (session,
# sf_dir); switching sf_dir re-registers everything.
_VIEWS_FOR: dict[str, str] = {}


def _views(spark: SparkSession, sf_dir: str) -> None:
    app = spark.sparkContext.applicationId
    if _VIEWS_FOR.get(app) == sf_dir:
        return
    for t in ALL_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    _VIEWS_FOR[app] = sf_dir


def _gaz(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(GAZ_SQL)


def _images(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    # the driver parquet files are single-row-group → a bare scan is ONE
    # task and everything pipelined on it runs serially; real 100TB
    # inputs have millions of splits, so spread explicitly here. The
    # spread happens BEFORE the caption derivation (guide §2.3 "project
    # before the exchange"): the shuffle then carries the 8-byte key
    # instead of ~60-byte caption strings, and the concat/regex work
    # runs on all cores instead of the single scan task.
    # view name carries the sf token so interleaved calls against
    # different sf dirs can never read each other's registration;
    # re-registering the same name for the same dir is idempotent
    import re as _re

    spread = "orders_spread_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    spark.table("orders").select("o_orderkey").repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView(spread)
    return spark.sql(IMAGES_SQL.replace("FROM orders", f"FROM {spread}"))


def _admin_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    rect = spark.sql(ADMIN_SQL)
    ring = F.array(
        F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
        F.struct(F.col("bb_e").alias("x"), F.col("bb_s").alias("y")),
        F.struct(F.col("bb_e").alias("x"), F.col("bb_n").alias("y")),
        F.struct(F.col("bb_w").alias("x"), F.col("bb_n").alias("y")),
        F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
    )
    return rect.withColumn("rings", F.array(ring))


def _geocoded(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    return G.geocode_images(images, gaz)


def _dec_sum(col, alias):
    """Exact decimal accumulation → double (deterministic across engines)."""
    return (
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)
    )


# ===========================================================================
# TPC-H-style operator family (scans, filters, joins, aggs, windows, sets)
# ===========================================================================
def q01_pricing_summary(spark, sf_dir):
    """A1/A4-family groupBy aggregate (SURVEY §2.4)."""
    _views(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q02_top_orders_per_customer(spark, sf_dir):
    """W1/O3 window top-k per group (SURVEY §2.5/2.6)."""
    _views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    top = (
        spark.table("orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    cust = spark.table("customer")
    return top.join(F.broadcast(cust), top.o_custkey == cust.c_custkey).select(
        "o_custkey", "c_name", "o_orderkey", "o_totalprice", "rn"
    )


def q03_priority_with_big_items(spark, sf_dir):
    """J-family left-semi join (EXISTS)."""
    _views(spark, sf_dir)
    big = spark.table("lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        spark.table("orders")
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q04_customers_without_orders(spark, sf_dir):
    """J4 anti-join (reference ISO2 validation pattern, utilities.py:107-118)."""
    _views(spark, sf_dir)
    return (
        spark.table("customer")
        .join(
            spark.table("orders"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q05_revenue_by_nation(spark, sf_dir):
    """Multi-join + aggregate (broadcast dims)."""
    _views(spark, sf_dir)
    rev = (
        spark.table("orders")
        .join(F.broadcast(spark.table("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(spark.table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(_dec_sum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
    )
    return rev


def q06_filtered_revenue(spark, sf_dir):
    """P-family selective filter + projection (pushdown showcase)."""
    _views(spark, sf_dir)
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
            ).cast("double"),
            4,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q07_segment_set_ops(spark, sf_dir):
    """U-family: union ∪, except (SURVEY §2.7)."""
    _views(spark, sf_dir)
    c = spark.table("customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).exceptAll(rich).distinct()


def q08_rollup_orders(spark, sf_dir):
    """Rollup aggregate (extension beyond reference; Catalyst-native)."""
    _views(spark, sf_dir)
    return (
        spark.table("orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q09_events_hourly(spark, sf_dir):
    """Event-time tumbling window aggregate over the events table."""
    _views(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def q10_json_props(spark, sf_dir):
    """F10 JSON parse (reference query_funcs.py:373,425,454)."""
    _views(spark, sf_dir)
    ev = spark.table("events").withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(
        F.round(F.avg("k"), 6).alias("avg_k"), F.max("k").alias("max_k")
    )


# ===========================================================================
# Geo family — derived tables, Spark side runs the real engine operators
# ===========================================================================
def g01_vetted_candidates(spark, sf_dir):
    """J1 broadcast gazetteer join + A4 top-k + P6 buffer vet."""
    vetted, _ = _geocoded(spark, sf_dir)
    return vetted.select(
        "image_id",
        "gaz_id",
        "source",
        "rank",
        F.round("cand_lat", 6).alias("cand_lat"),
        F.round("cand_lng", 6).alias("cand_lng"),
        F.round("buffer", 6).alias("buffer"),
    )


def g02_composite_best(spark, sf_dir):
    """A3 composite-best aggregate (reference query_funcs.py:193-219)."""
    _, best = _geocoded(spark, sf_dir)
    return best.select(
        "image_id",
        "best_name",
        "best_type",
        F.round("best_lat", 6).alias("best_lat"),
        F.round("best_long", 6).alias("best_long"),
        F.round("best_buffer", 6).alias("best_buffer"),
        "num_valid",
    )


def g03_cell_assign(spark, sf_dir):
    """F20 cell encoding of best points (pure Column arithmetic)."""
    _, best = _geocoded(spark, sf_dir)
    return best.select(
        "image_id",
        cell_encode(F.col("best_lat"), F.col("best_long"), TILE_RES).alias("cell"),
    )


def g04_tile_density(spark, sf_dir):
    """A7 per-cell density aggregate."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    return T.cell_density(best, res=TILE_RES)


def g05_admin_pip(spark, sf_dir):
    """J5 point-in-polygon join (cell-cover prefilter + exact ray cast)."""
    _, best = _geocoded(spark, sf_dir)
    polys = _admin_polys(spark, sf_dir)
    m = PIP.pip_join(best, polys, res=4)
    return m.select("pt_id", "admin_id", "iso2", "name")


def g06_admin_rollup(spark, sf_dir):
    """A6 admin-level rollup of PIP matches."""
    _, best = _geocoded(spark, sf_dir)
    polys = _admin_polys(spark, sf_dir)
    m = PIP.pip_join(best, polys, res=4)
    return R.admin_rollup(m).select("iso2", "name", "n_points")


def g07_match_rate(spark, sf_dir):
    """A6 match-rate by source summary statistic."""
    images = _images(spark, sf_dir)
    vetted, _ = _geocoded(spark, sf_dir)
    return R.match_rate_by_source(images, vetted)


def g08_knn_within_image(spark, sf_dir):
    """J6 kNN candidate matching across sources (single-shuffle window plan)."""
    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    vetted = G.vet_candidates(G.build_candidates(images, gaz))
    k = KNN.knn_within_image(vetted, k=KNN_K)
    return k.select(
        "image_id",
        "source",
        "rank",
        F.round("dist_km", 6).alias("dist_km"),
        "knn_rank",
    )


def g09_dropped_by_vet(spark, sf_dir):
    """P6 complement: candidates rejected by the buffer filter."""
    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    cands = G.build_candidates(images, gaz)
    return (
        cands.filter(F.col("buffer") > G.DEFAULT_MAX_BUFFER_KM)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )


# ===========================================================================
# Text / dedup / similarity family (documents + embeddings tables)
# ===========================================================================
def d01_exact_dup_groups(spark, sf_dir):
    """Exact dedup: hash-groupBy on document text."""
    _views(spark, sf_dir)
    return (
        spark.table("documents")
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def d02_text_quality(spark, sf_dir):
    """Text quality scoring: token count, stopword ratio, length."""
    _views(spark, sf_dir)
    from batch_geocode_spark.operators.text import _tokens

    d = spark.table("documents")
    toks = _tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.round(stop / F.size(toks), 6).alias("stopword_ratio"),
    )


def d03_lang_source_profile(spark, sf_dir):
    """Corpus profile: docs + mean length per (lang, source)."""
    _views(spark, sf_dir)
    return (
        spark.table("documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


def d04_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (exact, inverted-index join)."""
    from batch_geocode_spark.operators import dedup as D

    _views(spark, sf_dir)
    # single-row-group file -> spread before the shingle explode
    docs = spark.table("documents").repartition(spark.sparkContext.defaultParallelism)
    return D.ngram_jaccard_pairs(docs, n=4, threshold=0.05, max_df=10**6)


def d05_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates with exact-Jaccard verify —
    value-checked end-to-end against a DuckDB oracle that reproduces
    the ENTIRE pipeline (md5-derived shingle hashes → 64 affine
    permutations → banded md5 keys → candidate join → exact Jaccard).
    Production runs default to xxhash64 hashing; the math is identical."""
    from batch_geocode_spark.operators import dedup as D

    _views(spark, sf_dir)
    docs = spark.table("documents").repartition(spark.sparkContext.defaultParallelism)
    return D.minhash_lsh_pairs(docs, n=4, threshold=0.5, base_hash="md5_60")


def _d05_oracle(
    bands: int = 16,
    threshold: float = 0.5,
    source: str = "documents",
) -> str:
    from batch_geocode_spark.operators.dedup import MERSENNE_P31, MINHASH_PERMS, _perm_params

    a, b = _perm_params()
    rows = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(MINHASH_PERMS))
    rpb = MINHASH_PERMS // bands
    p = MERSENNE_P31
    return rf"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM {source}),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
        i -> concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3]))) AS shingle
      FROM toks)),
    base AS (SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
                    % {p} AS BIGINT) AS x
             FROM sh),
    perms(perm, a, b) AS (VALUES {rows}),
    sigs AS (SELECT doc_id, perm, MIN((a * x + b) % {p}) AS sig
             FROM base CROSS JOIN perms GROUP BY doc_id, perm),
    banded AS (SELECT doc_id, CAST(floor(perm / {rpb}) AS INT) AS band,
                 md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm)) AS band_key
               FROM sigs GROUP BY doc_id, CAST(floor(perm / {rpb}) AS INT)),
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM banded x JOIN banded y USING (band, band_key)
             WHERE x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN sh s1 ON s1.doc_id = c.doc_a
              JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
      ROUND(i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= {threshold}
    """


def d06_simhash_fingerprints(spark, sf_dir):
    """SimHash 64-bit fingerprints — value-checked against a DuckDB
    oracle via the cross-engine md5-derived token hash (production runs
    default to xxhash64; the simhash math is identical)."""
    from batch_geocode_spark.operators import dedup as D

    _views(spark, sf_dir)
    docs = spark.table("documents").repartition(spark.sparkContext.defaultParallelism)
    return D.simhash_fingerprints(docs, token_hash="md5_60")


def e02_cosine_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs, exact (oracle-checkable): the
    table is below ``similarity.MAX_EXACT_VECS``, so the capped collect
    that chooses the path is also the exact path's matrix."""
    from batch_geocode_spark.operators import similarity as S

    _views(spark, sf_dir)
    return S.cosine_near_dup_pairs(spark.table("embeddings"), threshold=0.45)


# Recall bars for the ANN verification summaries: the driver
# embeddings are unstructured random vectors (nearest neighbors at cos
# ~0.36) — the worst case for sublinear ANN. IVF probes 1/4 of the
# corpus and measures 2-4/5 exact-top-k overlap per query at sf0.01,
# so 0.4 is a real regression bar. LSH bucket overlap on this data is
# 0-1/5 — NO uniform bar holds, so e03's machine check is the
# candidate-SOUNDNESS invariant instead (every exact-top-k member that
# shares a bucket must be emitted; see ann_verification_summary), and
# the high-similarity retrieval contract stays pytest-pinned on
# planted cos>0.99 twins (test_ann_recall_on_driver_tables).
ANN_MIN_RECALL_LSH = 0.0
ANN_MIN_RECALL_IVF = 0.4


def e03_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k, VERIFIED (VERDICT r4 #3): the
    ANN row set is approximate by design, so the query returns the
    machine-checkable per-query verification summary instead of raw
    pairs — emitted-count, independent exact-cosine recompute matches,
    rank consistency, the subset-top-k bound vs brute force, and
    candidate soundness of the blocking join — all values DuckDB
    derives from the input tables alone (see
    ``similarity.ann_verification_summary`` and the recall-bar note
    above)."""
    from batch_geocode_spark.operators import similarity as S

    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # one candidate table feeds both the ANN rescore and the soundness
    # check (r7: previously each derived its own signature tables);
    # lazily checkpointed so it computes once across both consumers
    cand = S.lsh_candidates(queries, emb, n_tables=8, bits=8).localCheckpoint(eager=False)
    ann = S.ann_lsh_topk(queries, emb, k=5, n_tables=8, bits=8, candidates=cand)
    return S.ann_verification_summary(
        ann, queries, emb, k=5, min_recall=ANN_MIN_RECALL_LSH, candidates=cand
    )


WIDE_PREFIXES = [f"{s}{r}" for s in ("FG", "GM", "GN", "OSM") for r in (1, 2)]


def g10_wide_output(spark, sf_dir):
    """P1 reference-parity wide layout: input columns + best_* +
    {prefix}_{suffix} grid (reference: batch_geocode.py:23-38)."""
    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    vetted, best = G.geocode_images(images, gaz)
    wide = G.to_wide(images, vetted, best, prefixes=WIDE_PREFIXES)
    exprs = []
    for c in wide.columns:
        if c.endswith(("_lat", "_long", "_buffer")):
            exprs.append(F.round(F.col(c), 6).alias(c))
        else:
            exprs.append(F.col(c))
    return wide.select(*exprs)


def _wide_oracle() -> str:
    cols = []
    for p in WIDE_PREFIXES:
        src, rank = p[:-1], p[-1]
        cond = f"source = '{src}' AND rank = {rank}"
        cols += [
            f"max(CASE WHEN {cond} THEN name END) AS {p}_name",
            f"max(CASE WHEN {cond} THEN loc_type END) AS {p}_type",
            f"ROUND(max(CASE WHEN {cond} THEN sum_lat / n_pts END), 6) AS {p}_lat",
            f"ROUND(max(CASE WHEN {cond} THEN sum_lng / n_pts END), 6) AS {p}_long",
            f"ROUND(max(CASE WHEN {cond} THEN buffer END), 6) AS {p}_buffer",
        ]
    pivot = ",\n          ".join(cols)
    return GEO_CTES + f""",
        pivoted AS (
          SELECT image_id,
          {pivot}
          FROM vetted GROUP BY image_id
        )
        SELECT i.image_id, i.caption,
          b.best_name, b.best_type,
          ROUND(b.best_lat, 6) AS best_lat,
          ROUND(b.best_long, 6) AS best_long,
          ROUND(b.best_buffer, 6) AS best_buffer,
          p.* EXCLUDE (image_id)
        FROM images i
        LEFT JOIN best b ON i.image_id = b.image_id
        LEFT JOIN pivoted p ON i.image_id = p.image_id
    """


def t01_language_id(spark, sf_dir):
    """Stopword-profile language ID (argmax via struct greatest)."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.language_id(spark.table("documents"))


def t02_quality_scores(spark, sf_dir):
    """Pre-training quality heuristics as Column expressions."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.quality_scores(spark.table("documents"))


def t03_fingerprints(spark, sf_dir):
    """Doc fingerprints — value-checked against a DuckDB oracle via the
    cross-engine md5-derived token hash (xxhash64 stays the production
    default; the rolling-hash math is identical)."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.fingerprints(spark.table("documents"), token_hash="md5_60")


def t04_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish token counting."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.token_counts(spark.table("documents"))


def e01_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search vs query vector 0.

    The query vector rides a broadcast one-row cross join instead of a
    driver head() collect (r7: one Spark job instead of two; the dot
    product, norms and rounding accumulate in the identical order, so
    every double is bit-equal to the collect formulation — oracle-hash
    checked)."""
    from batch_geocode_spark.operators.similarity import _as_double, _dot, _norm

    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(_as_double(F.col("embedding")).alias("qv"))
    e = _as_double(F.col("embedding"))
    sim = _dot(e, F.col("qv")) / (_norm(e) * _norm(F.col("qv")))
    ranked = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )
    return ranked


# ===========================================================================
# oracle SQL (DuckDB dialect where it must differ; shared text elsewhere)
# ===========================================================================
def _oracle_geo(select: str) -> str:
    return GEO_CTES + select


ORACLES: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          ROUND(AVG(l_discount), 6) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_top_orders_per_customer": """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
        SELECT o_custkey, c_name, o_orderkey, o_totalprice, rn
        FROM ranked JOIN customer ON o_custkey = c_custkey
        WHERE rn <= 3
    """,
    "q03_priority_with_big_items": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
    """,
    "q04_customers_without_orders": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "q05_revenue_by_nation": """
        SELECT n_name,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q06_filtered_revenue": """
        SELECT
          ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q07_segment_set_ops": """
        SELECT DISTINCT c_custkey FROM (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION ALL
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        ) EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
    "q08_rollup_orders": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "q09_events_hourly": """
        SELECT CAST(date_trunc('hour', ts) AS STRING) AS hour, event_type,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "q10_json_props": """
        SELECT event_type,
          ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
          MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "g01_vetted_candidates": _oracle_geo("""
        SELECT image_id, gaz_id, source, rank,
          ROUND(sum_lat / n_pts, 6) AS cand_lat,
          ROUND(sum_lng / n_pts, 6) AS cand_lng,
          ROUND(buffer, 6) AS buffer
        FROM vetted
    """),
    "g02_composite_best": _oracle_geo("""
        SELECT image_id, best_name, best_type,
          ROUND(best_lat, 6) AS best_lat,
          ROUND(best_long, 6) AS best_long,
          ROUND(best_buffer, 6) AS best_buffer,
          num_valid
        FROM best
    """),
    "g03_cell_assign": _oracle_geo(
        f"SELECT image_id, {cell_encode_sql('best_lat', 'best_long', TILE_RES)} AS cell FROM best"
    ),
    "g04_tile_density": _oracle_geo(
        f"""
        SELECT {cell_encode_sql('best_lat', 'best_long', TILE_RES)} AS cell,
               COUNT(*) AS n_images
        FROM best GROUP BY 1
    """
    ),
    "g05_admin_pip": _oracle_geo(f"""
        SELECT b.image_id AS pt_id, a.admin_id, a.iso2, a.name
        FROM best b JOIN ({ADMIN_SQL}) a
          ON b.best_long >= a.bb_w AND b.best_long < a.bb_e
         AND b.best_lat >= a.bb_s AND b.best_lat < a.bb_n
    """),
    "g06_admin_rollup": _oracle_geo(f"""
        SELECT a.iso2, a.name, COUNT(*) AS n_points
        FROM best b JOIN ({ADMIN_SQL}) a
          ON b.best_long >= a.bb_w AND b.best_long < a.bb_e
         AND b.best_lat >= a.bb_s AND b.best_lat < a.bb_n
        GROUP BY a.iso2, a.name
    """),
    "g07_match_rate": _oracle_geo("""
        SELECT source,
          COUNT(DISTINCT image_id) AS n_matched,
          (SELECT COUNT(*) FROM images) AS n_images,
          ROUND(COUNT(DISTINCT image_id) * 1.0 / (SELECT COUNT(*) FROM images), 6) AS match_rate
        FROM vetted GROUP BY source
    """),
    "g08_knn_within_image": _oracle_geo(f"""
        SELECT image_id, source, rank, dist_km, knn_rank FROM (
          SELECT v.image_id, v.source, v.rank,
            ROUND({haversine_sql("v.sum_lat / v.n_pts", "v.sum_lng / v.n_pts", "b.best_lat", "b.best_long")}, 6) AS dist_km,
            row_number() OVER (PARTITION BY v.image_id
              ORDER BY {haversine_sql("v.sum_lat / v.n_pts", "v.sum_lng / v.n_pts", "b.best_lat", "b.best_long")},
                       v.source, v.rank) AS knn_rank
          FROM vetted v JOIN best b ON v.image_id = b.image_id
        ) WHERE knn_rank <= {KNN_K}
    """),
    "g09_dropped_by_vet": _oracle_geo("""
        SELECT g.source, COUNT(*) AS n_dropped
        FROM keyed k JOIN geom2 g ON k.loc_key = g.name_norm
        WHERE g.buffer > 15.0
        GROUP BY g.source
    """),
    "d01_exact_dup_groups": """
        SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1
    """,
    "d04_ngram_jaccard": r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
            i -> concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3]))) AS shingle
          FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_inter, sa.set_size AS size_a, sb.set_size AS size_b,
          ROUND(n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
        FROM inter
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter) >= 0.05
    """,
    "t01_language_id": r"""
        WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                   FROM documents),
        s AS (SELECT doc_id, 'en' AS lang, len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS score FROM t
          UNION ALL SELECT doc_id, 'es' AS lang, len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'en', 'que', 'los'))) AS score FROM t
          UNION ALL SELECT doc_id, 'fr' AS lang, len(list_filter(toks, x -> x IN ('le', 'la', 'de', 'et', 'en', 'que', 'les'))) AS score FROM t
          UNION ALL SELECT doc_id, 'de' AS lang, len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'in', 'zu', 'den'))) AS score FROM t
          UNION ALL SELECT doc_id, 'zh' AS lang, len(list_filter(toks, x -> x IN ('的', '是', '在', '了', '和', '有', '我'))) AS score FROM t),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, lang DESC) AS rn FROM s)
        SELECT doc_id, lang AS lang_pred, score AS lang_score,
               CASE WHEN score >= 1 THEN lang ELSE 'und' END AS lang_final
        FROM r WHERE rn = 1
    """,
    "t02_quality_scores": r"""
        WITH t AS (SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS toks FROM documents),
        m AS (SELECT doc_id, text, len(toks) AS n_tok,
                len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS stop,
                length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS symbols,
                (length(text) - len(toks) + 1) * 1.0 / len(toks) AS mean_tok_len,
                len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
              FROM t)
        SELECT doc_id, n_tok AS n_tokens,
          ROUND(mean_tok_len, 6) AS mean_token_len,
          ROUND(stop * 1.0 / n_tok, 6) AS stopword_ratio,
          ROUND(ttr, 6) AS type_token_ratio,
          ROUND(CASE WHEN n_tok < 5 THEN 0.0
                     WHEN mean_tok_len > 12.0 THEN 0.2
                     ELSE least(1.0, 0.5 * ttr +
                          0.5 * (1.0 - symbols * 1.0 / greatest(length(text), 1)))
                END, 6) AS quality_score
        FROM m
    """,
    "t04_token_counts": r"""
        WITH t AS (SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS toks FROM documents)
        SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_pieces,
          len(list_distinct(toks)) AS n_distinct_tokens
        FROM t
    """,
    "e02_cosine_near_dup": """
        WITH v AS (
          SELECT vec_id, embedding,
            sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(
            list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (a.nrm * b.nrm), 6) AS cos_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (a.nrm * b.nrm) >= 0.45
    """,
    # simhash over md5-derived 60-bit token hashes: tokens (incl.
    # duplicates) → per-bit sign accumulation over bits 0..59 (bits
    # 60..63 of a 60-bit hash are always 0 → their accumulators are
    # negative → fingerprint bits 0, so the 0..59 sweep is exact)
    "d06_simhash_fingerprints": r"""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                   FROM documents),
        th AS (SELECT doc_id,
                 CAST(CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
               FROM t),
        bits AS (
          SELECT doc_id, b AS bit,
                 SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
          FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
          GROUP BY doc_id, b)
        SELECT doc_id,
          CAST(SUM(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
            AS simhash
        FROM bits GROUP BY doc_id
    """,
    # rolling hash h = (h*31 + hash60(tok) mod p) mod p; list_reduce
    # with no seed starts at the first element, which equals Spark's
    # fold from 0 because (0*31 + h1 mod p) = h1 mod p
    "t03_fingerprints": r"""
        WITH t AS (SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS toks FROM documents),
        h AS (SELECT doc_id, text,
                list_transform(toks, x ->
                  CAST(CAST(('0x' || substr(md5(x), 1, 15)) AS UBIGINT)
                       % 2147483647 AS BIGINT)) AS hs
              FROM t)
        SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash,
          CAST(list_reduce(hs, (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
            AS rolling_hash
        FROM h
    """,
    "d02_text_quality": r"""
        SELECT doc_id,
          length(text) AS n_chars_actual,
          len(string_split_regex(trim(text), '\s+')) AS n_tokens,
          ROUND(len(list_filter(string_split_regex(trim(text), '\s+'),
                                t -> t = 'the' OR t = 'a'))
                * 1.0 / len(string_split_regex(trim(text), '\s+')), 6) AS stopword_ratio
        FROM documents
    """,
    "d03_lang_source_profile": """
        SELECT lang, source, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
        FROM documents GROUP BY lang, source
    """,
    "e01_cosine_topk": """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, label,
          ROUND(
            list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
          4) AS cos_sim
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 20
    """,
}

QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_top_orders_per_customer": q02_top_orders_per_customer,
    "q03_priority_with_big_items": q03_priority_with_big_items,
    "q04_customers_without_orders": q04_customers_without_orders,
    "q05_revenue_by_nation": q05_revenue_by_nation,
    "q06_filtered_revenue": q06_filtered_revenue,
    "q07_segment_set_ops": q07_segment_set_ops,
    "q08_rollup_orders": q08_rollup_orders,
    "q09_events_hourly": q09_events_hourly,
    "q10_json_props": q10_json_props,
    "g01_vetted_candidates": g01_vetted_candidates,
    "g02_composite_best": g02_composite_best,
    "g03_cell_assign": g03_cell_assign,
    "g04_tile_density": g04_tile_density,
    "g05_admin_pip": g05_admin_pip,
    "g06_admin_rollup": g06_admin_rollup,
    "g07_match_rate": g07_match_rate,
    "g08_knn_within_image": g08_knn_within_image,
    "g09_dropped_by_vet": g09_dropped_by_vet,
    "d01_exact_dup_groups": d01_exact_dup_groups,
    "d02_text_quality": d02_text_quality,
    "d03_lang_source_profile": d03_lang_source_profile,
    "d04_ngram_jaccard": d04_ngram_jaccard,
    "d05_minhash_lsh": d05_minhash_lsh,
    "d06_simhash_fingerprints": d06_simhash_fingerprints,
    "t01_language_id": t01_language_id,
    "t02_quality_scores": t02_quality_scores,
    "t03_fingerprints": t03_fingerprints,
    "t04_token_counts": t04_token_counts,
    "e01_cosine_topk": e01_cosine_topk,
    "e02_cosine_near_dup": e02_cosine_near_dup,
    "e03_ann_topk": e03_ann_topk,
}

QUERIES["g10_wide_output"] = g10_wide_output
ORACLES["g10_wide_output"] = _wide_oracle()
ORACLES["d05_minhash_lsh"] = _d05_oracle()


def q11_sessionize(spark, sf_dir):
    """Session windows (gap-based) over the events stream table —
    built-in session_window; timestamps projected as epoch micros for
    cross-engine exactness."""
    from batch_geocode_spark import streaming as STR

    _views(spark, sf_dir)
    s = STR.sessionize(spark.table("events"), gap="30 minutes", watermark=None)
    return s.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("start_us"),
        F.unix_micros(F.col("session_end")).alias("end_us"),
        "n_events",
        "total_value",
    )


QUERIES["q11_sessionize"] = q11_sessionize
ORACLES["q11_sessionize"] = """
    WITH l AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events),
    g AS (
      SELECT *, sum(CASE WHEN prev IS NULL
                          OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000
                         THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS grp
      FROM l)
    SELECT user_id,
      epoch_us(min(ts)) AS start_us,
      epoch_us(max(ts)) + 1800 * 1000000 AS end_us,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM g GROUP BY user_id, grp
"""


def g11_fuzzy_match(spark, sf_dir):
    """J1 fuzzy path: prefix-key join for captions with no exact
    gazetteer hit ('placeville N district' → prefix 'placeville N')."""
    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    fz = G.fuzzy_candidates(images, gaz)
    return fz.select(
        "image_id",
        "gaz_id",
        "source",
        "rank",
        F.round("cand_lat", 6).alias("cand_lat"),
        F.round("cand_lng", 6).alias("cand_lng"),
        F.round("buffer", 6).alias("buffer"),
    )


QUERIES["g11_fuzzy_match"] = g11_fuzzy_match
ORACLES["g11_fuzzy_match"] = GEO_CTES + f""",
    fg AS (
      SELECT *, regexp_extract(name_norm, '^(\\S+\\s+\\S+)', 1) AS gaz_prefix
      FROM gaz),
    fg_ranked AS (
      SELECT *, row_number() OVER (PARTITION BY gaz_prefix, source
                                   ORDER BY api_rank, gaz_id) AS frank
      FROM fg WHERE gaz_prefix <> ''),
    misses AS (
      SELECT image_id, regexp_extract(loc_key, '^(\\S+\\s+\\S+)', 1) AS img_prefix
      FROM keyed
      WHERE loc_key NOT IN (SELECT name_norm FROM gaz)
        AND regexp_extract(loc_key, '^(\\S+\\s+\\S+)', 1) <> '')
    SELECT m.image_id, f.gaz_id, f.source, f.frank AS rank,
      ROUND(CASE WHEN f.bb_w IS NOT NULL THEN (f.bb_s + f.bb_n) / 2 ELSE f.lat END, 6) AS cand_lat,
      ROUND(CASE WHEN f.bb_w IS NOT NULL THEN (f.bb_w + f.bb_e) / 2 ELSE f.lng END, 6) AS cand_lng,
      ROUND({haversine_sql("COALESCE(f.bb_s, f.lat)", "COALESCE(f.bb_w, f.lng)",
                           "COALESCE(f.bb_n, f.lat)", "COALESCE(f.bb_e, f.lng)")}, 6) AS buffer
    FROM misses m JOIN fg_ranked f ON m.img_prefix = f.gaz_prefix
    WHERE f.frank <= 2
"""


def q12_pivot(spark, sf_dir):
    """Pivot: order counts + decimal-exact revenue per priority,
    pivoted on order status."""
    _views(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
    )


QUERIES["q12_pivot"] = q12_pivot
ORACLES["q12_pivot"] = """
    SELECT o_orderpriority,
      COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
"""


def q13_percentiles(spark, sf_dir):
    """Exact percentiles (continuous interpolation) of order totals per
    status — the distribution-statistics member of the A-family. Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear
    interpolation definition, so values hash-match at 6 dp."""
    _views(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q13_percentiles_approx(spark, sf_dir, accuracy: int = 10_000):
    """PRODUCTION percentile path: ``approx_percentile`` (a bounded-size
    quantile sketch with map-side combine) instead of the exact
    sort-based ``percentile`` aggregate, which buffers every group's
    values and is a memory cliff at 10^12 rows per status. Error is
    bounded by 1/accuracy in RANK space; the pytest pins the resulting
    value error at sf0.01/sf0.1. Not oracle-registered: sketch results
    are engine-specific by construction (DuckDB's approx_quantile is a
    different t-digest) — q13_percentiles stays the exact, hash-checked
    twin."""
    _views(spark, sf_dir)
    pct = f"approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), {accuracy})"
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr(pct).alias("pcts"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "o_orderstatus",
            F.round(F.col("pcts")[0], 6).alias("p50"),
            F.round(F.col("pcts")[1], 6).alias("p90"),
            F.round(F.col("pcts")[2], 6).alias("p99"),
            "n",
        )
    )


QUERIES["q13_percentiles"] = q13_percentiles
ORACLES["q13_percentiles"] = """
    SELECT o_orderstatus,
      ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99,
      COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
"""


def g12_spatial_knn(spark, sf_dir):
    """J6 cell-bucketed spatial kNN join: each best point meets only
    gazetteer points in its 3×3 cell ring at res 7 (equi-join, never a
    cross join), then per-query top-k by haversine. The oracle
    reproduces the ring semantics with integer cell-coordinate
    arithmetic (y clamps, x wraps) — exact value-hash check of an op
    that looks approximate but is deterministic given the ring."""
    _, best = _geocoded(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    k = KNN.knn_spatial(best, gaz, k=5, res=7)
    return k.select(
        "query_id",
        "nbr_id",
        F.round(F.col("nbr_lat").cast("double"), 6).alias("nbr_lat"),
        F.round(F.col("nbr_lng").cast("double"), 6).alias("nbr_lng"),
        F.round("dist_km", 6).alias("dist_km"),
        "knn_rank",
    )


def _g12_oracle() -> str:
    n = 2**7
    hi = n - 1
    qx = f"least({hi}, greatest(0, CAST(floor((best_long + 180.0) / 360.0 * {float(n)}) AS BIGINT)))"
    qy = f"least({hi}, greatest(0, CAST(floor((best_lat + 90.0) / 180.0 * {float(n)}) AS BIGINT)))"
    px = f"least({hi}, greatest(0, CAST(floor((lng + 180.0) / 360.0 * {float(n)}) AS BIGINT)))"
    py = f"least({hi}, greatest(0, CAST(floor((lat + 90.0) / 180.0 * {float(n)}) AS BIGINT)))"
    dist = haversine_sql("q.best_lat", "q.best_long", "p.lat", "p.lng")
    return GEO_CTES + f""",
    q AS (SELECT image_id, best_lat, best_long, {qx} AS qx, {qy} AS qy FROM best),
    p AS (SELECT gaz_id, lat, lng, {px} AS px, {py} AS py FROM gaz),
    cand AS (
      SELECT q.image_id AS query_id, p.gaz_id AS nbr_id,
             p.lat AS nbr_lat, p.lng AS nbr_lng, {dist} AS dist_km
      FROM q JOIN p
        ON p.py BETWEEN q.qy - 1 AND q.qy + 1
       AND (p.px = q.qx OR p.px = (q.qx + 1) % {n} OR p.px = (q.qx - 1 + {n}) % {n})
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY dist_km, nbr_id) AS knn_rank FROM cand)
    SELECT query_id, nbr_id, ROUND(nbr_lat, 6) AS nbr_lat,
           ROUND(nbr_lng, 6) AS nbr_lng, ROUND(dist_km, 6) AS dist_km, knn_rank
    FROM r WHERE knn_rank <= 5
    """


QUERIES["g12_spatial_knn"] = g12_spatial_knn
ORACLES["g12_spatial_knn"] = _g12_oracle()


def g13_density_rollup(spark, sf_dir):
    """A7 hierarchical tile rollup: res-9 cell densities re-aggregated
    at res 6 via parent-id arithmetic (bit shifts on (x, y)) — the
    hypertable-rollup shape. The oracle encodes DIRECTLY at res 6,
    which must agree because floor(floor(v·2⁹)/2³) = floor(v·2⁶) and
    the boundary clamps commute with the shift."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    dens = T.cell_density(best, res=TILE_RES)
    return R.density_rollup(dens, res=TILE_RES, parent_res=6).select(
        F.col("parent").alias("cell"), "n_images"
    )


QUERIES["g13_density_rollup"] = g13_density_rollup
ORACLES["g13_density_rollup"] = _oracle_geo(
    f"""
    SELECT {cell_encode_sql('best_lat', 'best_long', 6)} AS cell,
           COUNT(*) AS n_images
    FROM best GROUP BY 1
"""
)


def g14_tile_pyramid(spark, sf_dir):
    """A7 multi-resolution tile pyramid: base res-9 density plus CHAINED
    rollups at res 6 and 3 in one long table — every zoom level
    pre-aggregated, mass conserved level-to-level. Spark computes the
    coarser levels by parent-id arithmetic on the previous level; the
    oracle encodes each level DIRECTLY from the points, which must
    agree because floor-division composes across the quadtree."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    dens = T.cell_density(best, res=TILE_RES)
    return R.tile_pyramid(dens, levels=(TILE_RES, 6, 3))


def g15_raster_roundtrip(spark, sf_dir):
    """A7 raster↔vector round trip: res-9 cell densities assembled into
    per-tile PGM16 raster blobs (vector→raster), then decoded back into
    per-cell rows (raster→vector, ``tiles.raster_blobs_to_cells``). The
    round trip is exact for counts ≤ 65535, so the oracle is simply the
    direct g04 density SQL — any dropped pixel, mis-placed coordinate,
    or codec defect breaks the hash. Closes the raster↔vector loop the
    north_rule names (vector→raster alone was only half of it)."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    dens = T.cell_density(best, res=TILE_RES)
    tiles = T.assemble_raster_tiles(dens, res=TILE_RES, tile_res=5)
    blobs = T.raster_tiles_as_blobs(tiles)
    return T.raster_blobs_to_cells(blobs)


def g16_polygonize(spark, sf_dir):
    """Raster→vector polygonization: 4-connected regions of hot density
    cells (count ≥ 2) → one vector feature per region (label = min cell
    id, n_cells, mass, degree bbox) from one capped collect of the hot
    cells, with arithmetic neighbor lookups and the driver union-find
    (``tiles.polygonize_cells``). Oracle: recursive-CTE transitive
    closure over the same arithmetic adjacency — pins both the edge
    construction and the CC labeling."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    dens = T.cell_density(best, res=TILE_RES)
    return T.polygonize_cells(dens, res=TILE_RES, threshold=2)


QUERIES["g16_polygonize"] = g16_polygonize
# the polygonize oracle needs a RECURSIVE CTE, so it hoists the keyword
# onto the shared geo CTE chain instead of opening a second WITH
ORACLES["g16_polygonize"] = GEO_CTES.replace("WITH ", "WITH RECURSIVE ", 1) + (
    f""",
    density AS (
      SELECT {cell_encode_sql('best_lat', 'best_long', TILE_RES)} AS cell,
             COUNT(*) AS n_images
      FROM best GROUP BY 1),
    hot AS (
      SELECT cell, n_images, cell % {2**29} AS x,
             (cell % {2**58}) // {2**29} AS y
      FROM density WHERE n_images >= 2),
    e0 AS (
      SELECT a.cell AS ca, b.cell AS cb FROM hot a JOIN hot b
        ON b.cell = a.cell - a.x + (a.x + 1) % {2**TILE_RES}
      UNION ALL
      SELECT a.cell, b.cell FROM hot a JOIN hot b
        ON b.cell = a.cell + {2**29}),
    edges AS (SELECT ca AS a, cb AS b FROM e0
              UNION SELECT cb AS a, ca AS b FROM e0),
    reach(node, lbl) AS (
      SELECT cell, cell FROM hot
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    lab AS (
      SELECT c.component AS region, h.x, h.y, h.n_images
      FROM hot h JOIN comp c ON c.node = h.cell),
    -- wrap-aware lng bbox: largest-gap rotation over distinct x per
    -- region (mirrors tiles.polygonize_cells; RFC 7946 bb_w > bb_e
    -- convention for regions crossing the antimeridian)
    rxs AS (SELECT DISTINCT region, x FROM lab),
    rgap AS (
      SELECT region, x AS origin,
             x - LAG(x) OVER (PARTITION BY region ORDER BY x) AS gap
      FROM rxs
      UNION ALL
      SELECT region, MIN(x), MIN(x) - MAX(x) + {2**TILE_RES}
      FROM rxs GROUP BY region),
    rorigin AS (
      SELECT region, origin FROM (
        SELECT region, origin,
               ROW_NUMBER() OVER (PARTITION BY region ORDER BY gap DESC, origin ASC) AS rn
        FROM rgap WHERE gap IS NOT NULL)
      WHERE rn = 1)
    SELECT region, n_cells, n_images,
           ROUND(CASE WHEN max_rot = {2**TILE_RES} - 1 THEN -180.0
                 ELSE origin * 1.0 / {2**TILE_RES} * 360.0 - 180.0 END, 6) AS bb_w,
           bb_s,
           ROUND(CASE WHEN max_rot = {2**TILE_RES} - 1 THEN 180.0
                 WHEN raw_e > 180.0 THEN raw_e - 360.0
                 ELSE raw_e END, 6) AS bb_e,
           bb_n
    FROM (
      SELECT l.region AS region, COUNT(*) AS n_cells,
             CAST(SUM(l.n_images) AS BIGINT) AS n_images,
             MIN(o.origin) AS origin,
             MAX((l.x - o.origin + {2**TILE_RES}) % {2**TILE_RES}) AS max_rot,
             (MIN(o.origin) + MAX((l.x - o.origin + {2**TILE_RES}) % {2**TILE_RES}) + 1)
               * 1.0 / {2**TILE_RES} * 360.0 - 180.0 AS raw_e,
             ROUND(MIN(l.y * 1.0 / {2**TILE_RES} * 180.0 - 90.0), 6) AS bb_s,
             ROUND(MAX((l.y + 1) * 1.0 / {2**TILE_RES} * 180.0 - 90.0), 6) AS bb_n
      FROM lab l JOIN rorigin o USING (region)
      GROUP BY 1)
"""
)


def g17_zonal_stats(spark, sf_dir):
    """Raster zonal statistics: the res-9 density raster aggregated per
    admin polygon via cell-center PIP (``rollups.zonal_stats``) — cost
    scales with |cells|, not points. Oracle recomputes cell centers
    from the same id arithmetic and applies the half-open bbox
    containment g05/g06 use."""
    _, best = _geocoded(spark, sf_dir)
    from batch_geocode_spark.operators import tiles as T

    dens = T.cell_density(best, res=TILE_RES)
    polys = _admin_polys(spark, sf_dir)
    return R.zonal_stats(dens, polys, res=TILE_RES, pip_res=4)


QUERIES["g17_zonal_stats"] = g17_zonal_stats
ORACLES["g17_zonal_stats"] = _oracle_geo(
    f"""
    SELECT a.admin_id, a.iso2, a.name, COUNT(*) AS n_cells,
           CAST(SUM(d.n_images) AS BIGINT) AS n_images
    FROM (
      SELECT cell, n_images,
             ((cell % {2**58}) // {2**29} + 0.5) / {2**TILE_RES} * 180.0 - 90.0 AS lat,
             (cell % {2**29} + 0.5) / {2**TILE_RES} * 360.0 - 180.0 AS lng
      FROM (
        SELECT {cell_encode_sql('best_lat', 'best_long', TILE_RES)} AS cell,
               COUNT(*) AS n_images
        FROM best GROUP BY 1)
    ) d JOIN ({ADMIN_SQL}) a
      ON d.lng >= a.bb_w AND d.lng < a.bb_e
     AND d.lat >= a.bb_s AND d.lat < a.bb_n
    GROUP BY 1, 2, 3
"""
)


# spatial-clustering parameters: eps must stay below one cell's lat
# extent at CLUSTER_RES (~10,007/2**res km; res 3 → ~2,500 km) so the
# cell-ring candidate join is exhaustive at the test latitudes
CLUSTER_RES = 3
CLUSTER_EPS_KM = 2100.0
CLUSTER_MIN_PTS = 650


def g18_spatial_clusters(spark, sf_dir):
    """DBSCAN spatial clustering of geocoded image locations
    (``cluster.spatial_clusters`` — PostGIS ST_ClusterDBSCAN analog):
    points collapse to weighted sites, the site table is collected once
    and clustered by a numpy kernel on the driver (cell-ring candidate
    pairs, union-find components of the core sites), border sites
    attach to their minimum reachable core cluster. The oracle
    reproduces the whole chain — ring-bounded candidates, eps-ball
    point mass, core/border/noise roles, recursive-CTE closure, and
    the decimal-accumulated weighted centroid."""
    from batch_geocode_spark.operators import cluster as C

    _, best = _geocoded(spark, sf_dir)
    pts = best.select(
        F.col("image_id").alias("pt_id"),
        F.col("best_lat").alias("lat"),
        F.col("best_long").alias("lng"),
    )
    assigned = C.spatial_clusters(
        pts, eps_km=CLUSTER_EPS_KM, min_pts=CLUSTER_MIN_PTS, res=CLUSTER_RES
    )
    return C.cluster_summary(assigned)


QUERIES["g18_spatial_clusters"] = g18_spatial_clusters
# recursive closure over the core-core eps graph → hoist RECURSIVE onto
# the shared geo CTE chain (g16 pattern)
_CLUSTER_M = 2**CLUSTER_RES
_HAV_AB = haversine_sql("a.lat", "a.lng", "b.lat", "b.lng")
# the DBSCAN assignment chain (sites → ring-join candidates → cores →
# recursive closure → per-site cluster assignment) is shared by the
# g18 summary oracle and the g19 hull oracle
_CLUSTER_CHAIN = (
    f""",
    sites AS (
      SELECT best_lat AS lat, best_long AS lng,
             MIN(image_id) AS site_id, COUNT(*) AS w
      FROM best GROUP BY 1, 2),
    sxy AS (
      SELECT *, {cell_encode_sql('lat', 'lng', CLUSTER_RES)} % {2**29} AS x,
             ({cell_encode_sql('lat', 'lng', CLUSTER_RES)} % {2**58}) // {2**29} AS y
      FROM sites),
    offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
    nbr AS (
      SELECT a.site_id AS a_id, b.site_id AS b_id, b.w AS b_w
      FROM sxy a CROSS JOIN offs o JOIN sxy b
        ON b.x = (a.x + o.dx + {_CLUSTER_M}) % {_CLUSTER_M} AND b.y = a.y + o.dy
      WHERE {_HAV_AB} <= {CLUSTER_EPS_KM}),
    mass AS (SELECT a_id, SUM(b_w) AS eps_mass FROM nbr GROUP BY 1),
    core AS (SELECT a_id AS site_id FROM mass WHERE eps_mass >= {CLUSTER_MIN_PTS}),
    ce AS (
      SELECT n.a_id AS a, n.b_id AS b FROM nbr n
      JOIN core ca ON n.a_id = ca.site_id JOIN core cb ON n.b_id = cb.site_id
      WHERE n.a_id <> n.b_id),
    reach(node, lbl) AS (
      SELECT site_id, site_id FROM core
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN ce e ON e.a = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY 1),
    border AS (
      SELECT n.a_id AS node, MIN(c.component) AS component
      FROM nbr n JOIN comp c ON n.b_id = c.node
      WHERE n.a_id <> n.b_id AND n.a_id NOT IN (SELECT site_id FROM core)
      GROUP BY 1),
    assigned AS (
      SELECT node, component, TRUE AS is_core FROM comp
      UNION ALL SELECT node, component, FALSE AS is_core FROM border),
    asg AS (
      SELECT s.component AS cluster, s.is_core, t.lat, t.lng, t.w
      FROM assigned s JOIN sites t ON s.node = t.site_id)"""
)
ORACLES["g18_spatial_clusters"] = GEO_CTES.replace(
    "WITH ", "WITH RECURSIVE ", 1
) + _CLUSTER_CHAIN + (
    f""",
    -- antimeridian-aware centroid_lng: largest-gap rotation (exact
    -- decimal arithmetic, mirrors cluster.cluster_summary)
    clngs AS (SELECT DISTINCT cluster, lng FROM asg),
    gap_internal AS (
      SELECT cluster, lng AS origin,
             CAST(lng AS DECIMAL(14,8))
               - CAST(LAG(lng) OVER (PARTITION BY cluster ORDER BY lng) AS DECIMAL(14,8)) AS gap
      FROM clngs),
    gap_wrap AS (
      SELECT cluster, MIN(lng) AS origin,
             CAST(MIN(lng) AS DECIMAL(14,8)) - CAST(MAX(lng) AS DECIMAL(14,8)) + 360 AS gap
      FROM clngs GROUP BY 1),
    origins AS (
      SELECT cluster, origin FROM (
        SELECT cluster, origin,
               ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY gap DESC, origin ASC) AS rn
        FROM (SELECT * FROM gap_internal WHERE gap IS NOT NULL
              UNION ALL SELECT * FROM gap_wrap))
      WHERE rn = 1)
    SELECT cluster, n_sites, n_core_sites, n_points, centroid_lat,
           ROUND(CASE WHEN raw_lng > 180 THEN raw_lng - 360 ELSE raw_lng END, 6) AS centroid_lng
    FROM (
      SELECT a.cluster AS cluster, COUNT(*) AS n_sites,
             CAST(SUM(CASE WHEN a.is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core_sites,
             CAST(SUM(a.w) AS BIGINT) AS n_points,
             ROUND(CAST(SUM(CAST(a.lat AS DECIMAL(14,8)) * CAST(a.w AS DECIMAL(20,0))) AS DOUBLE) / SUM(a.w), 6) AS centroid_lat,
             CAST(SUM(
               (CASE WHEN CAST(a.lng AS DECIMAL(14,8)) >= CAST(o.origin AS DECIMAL(14,8))
                     THEN CAST(a.lng AS DECIMAL(14,8)) - CAST(o.origin AS DECIMAL(14,8))
                     ELSE CAST(a.lng AS DECIMAL(14,8)) - CAST(o.origin AS DECIMAL(14,8)) + 360 END)
               * CAST(a.w AS DECIMAL(20,0))) AS DOUBLE)
               / SUM(a.w) + MIN(o.origin) AS raw_lng
      FROM asg a JOIN origins o USING (cluster)
      GROUP BY 1)
"""
)


def g19_cluster_hulls(spark, sf_dir):
    """Per-cluster convex-hull outlines (``cluster.cluster_hulls``):
    the geometry to draw next to g18's centroid. Spark side runs
    Andrew's monotone chain per cluster on the driver, over the
    gazetteer-scale site table collected once; the oracle derives
    the same vertex set with an O(n³) half-plane predicate (a point is
    on the hull iff some other point sees every point on one side) and
    reproduces the exact CCW ring enumeration — lower chain west→east,
    east end, upper chain east→west — with pure float compares, no
    transcendentals."""
    from batch_geocode_spark.operators import cluster as C

    _, best = _geocoded(spark, sf_dir)
    pts = best.select(
        F.col("image_id").alias("pt_id"),
        F.col("best_lat").alias("lat"),
        F.col("best_long").alias("lng"),
    )
    assigned = C.spatial_clusters(
        pts, eps_km=CLUSTER_EPS_KM, min_pts=CLUSTER_MIN_PTS, res=CLUSTER_RES
    )
    # hull predicates branch on float compares, so the two engines must
    # see IDENTICAL coordinates: composite-mean coords differ in the
    # last ulp across engines — round to 6 dp (~0.1 m) before the hull,
    # the repo-wide cross-engine invariant (clustering itself is
    # unaffected; it runs on the raw coordinates above)
    rounded = assigned.withColumn("lat", F.round("lat", 6)).withColumn(
        "lng", F.round("lng", 6)
    )
    return C.cluster_hulls(rounded)


def g20_hull_metrics(spark, sf_dir):
    """Per-cluster hull geometry metrics composed ON TOP of g19's ring:
    planar shoelace area (deg², the ring coordinates are 6-dp-rounded
    and bit-identical cross-engine) and haversine perimeter (km) —
    window + geo composition over the hull vertices; each cluster's
    ring closes by joining vertex i to vertex (i+1) mod n."""
    hulls = g19_cluster_hulls(spark, sf_dir)
    # close the ring with ONE window pass (lead + wraparound to the
    # first vertex) — a self-join on (cluster, (i+1) mod n) would
    # duplicate the whole hull subtree into both join branches
    w = W.partitionBy("cluster").orderBy("hull_idx")
    w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    edges = hulls.select(
        "cluster",
        "n_vertices",
        "lat",
        "lng",
        F.coalesce(F.lead("lat").over(w), F.first("lat").over(w_all)).alias("lat2"),
        F.coalesce(F.lead("lng").over(w), F.first("lng").over(w_all)).alias("lng2"),
    )
    return (
        edges.groupBy("cluster")
        .agg(
            F.first("n_vertices").alias("n_vertices"),
            F.round(
                F.abs(
                    F.sum(
                        F.col("lng") * F.col("lat2") - F.col("lng2") * F.col("lat")
                    )
                )
                / 2,
                6,
            ).alias("hull_area_deg2"),
            F.round(
                F.sum(
                    haversine_km(
                        F.col("lat"), F.col("lng"), F.col("lat2"), F.col("lng2")
                    )
                ),
                6,
            ).alias("perimeter_km"),
        )
    )


QUERIES["g20_hull_metrics"] = g20_hull_metrics
QUERIES["g19_cluster_hulls"] = g19_cluster_hulls
ORACLES["g19_cluster_hulls"] = GEO_CTES.replace(
    "WITH ", "WITH RECURSIVE ", 1
) + _CLUSTER_CHAIN + (
    """,
    cpts AS (SELECT DISTINCT cluster, ROUND(lng, 6) AS lng, ROUND(lat, 6) AS lat FROM asg),
    n1 AS (SELECT cluster FROM cpts GROUP BY 1 HAVING COUNT(*) = 1),
    -- p is a hull vertex iff some q (its CCW successor) puts every r
    -- of the cluster on the non-negative-cross side; singleton
    -- clusters (no q) union back in
    hv AS (
      SELECT p.cluster, p.lng, p.lat
      FROM cpts p JOIN cpts q
        ON q.cluster = p.cluster AND (q.lng <> p.lng OR q.lat <> p.lat)
      WHERE NOT EXISTS (
        SELECT 1 FROM cpts r
        WHERE r.cluster = p.cluster
          AND (q.lng - p.lng) * (r.lat - p.lat)
            - (q.lat - p.lat) * (r.lng - p.lng) < 0)
      GROUP BY 1, 2, 3
      UNION ALL
      SELECT c.cluster, p.lng, p.lat FROM cpts p JOIN n1 c USING (cluster)),
    ends AS (
      SELECT cluster,
             FIRST(lng ORDER BY lng, lat) AS p0_lng,
             FIRST(lat ORDER BY lng, lat) AS p0_lat,
             FIRST(lng ORDER BY lng DESC, lat DESC) AS pn_lng,
             FIRST(lat ORDER BY lng DESC, lat DESC) AS pn_lat
      FROM hv GROUP BY 1),
    ring AS (
      SELECT h.cluster, h.lat, h.lng,
             CASE WHEN h.lng = e.pn_lng AND h.lat = e.pn_lat THEN 1
                  WHEN h.lng = e.p0_lng AND h.lat = e.p0_lat THEN 0
                  WHEN (e.pn_lng - e.p0_lng) * (h.lat - e.p0_lat)
                     - (e.pn_lat - e.p0_lat) * (h.lng - e.p0_lng) < 0 THEN 0
                  ELSE 1 END AS chain
      FROM hv h JOIN ends e USING (cluster))
    SELECT cluster,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY cluster
             ORDER BY chain,
                      CASE WHEN chain = 0 THEN lng ELSE -lng END,
                      CASE WHEN chain = 0 THEN lat ELSE -lat END) AS INT) - 1
             AS hull_idx,
           lat, lng,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS INT) AS n_vertices
    FROM ring
"""
)
ORACLES["g20_hull_metrics"] = (
    "WITH hulls AS ("
    + ORACLES["g19_cluster_hulls"]
    + f"""),
    e AS (
      SELECT h.cluster, h.n_vertices, h.lat, h.lng,
             n.lat AS lat2, n.lng AS lng2
      FROM hulls h JOIN hulls n
        ON n.cluster = h.cluster
       AND n.hull_idx = (h.hull_idx + 1) % h.n_vertices)
    SELECT cluster, CAST(MIN(n_vertices) AS INT) AS n_vertices,
           ROUND(ABS(SUM(lng * lat2 - lng2 * lat)) / 2, 6) AS hull_area_deg2,
           ROUND(SUM({haversine_sql('lat', 'lng', 'lat2', 'lng2')}), 6)
             AS perimeter_km
    FROM e GROUP BY 1
"""
)


def g21_quadkey_density(spark, sf_dir):
    """Per-cell density addressed by QUADKEY (Bing-maps tile-string
    interchange, ``cells.quadkey``): one base-4 digit per level, parent
    quadkey = child's string prefix, so map clients prune
    hierarchically with startswith. Pure integer/concat Column exprs;
    the oracle regenerates the identical strings from the same cell
    arithmetic."""
    from batch_geocode_spark.operators import tiles as T

    _, best = _geocoded(spark, sf_dir)
    dens = T.cell_density(best, res=TILE_RES)
    qk = quadkey(F.col("cell"), TILE_RES)
    return dens.select(
        qk.alias("quadkey"),
        F.substring(qk, 1, TILE_RES - 3).alias("parent_qk"),
        "n_images",
    )


QUERIES["g21_quadkey_density"] = g21_quadkey_density
_QK_SQL = quadkey_sql(
    cell_encode_sql("best_lat", "best_long", TILE_RES), TILE_RES
)
ORACLES["g21_quadkey_density"] = _oracle_geo(
    f"""
    SELECT {_QK_SQL} AS quadkey,
           substr({_QK_SQL}, 1, {TILE_RES - 3}) AS parent_qk,
           COUNT(*) AS n_images
    FROM best GROUP BY 1, 2
"""
)


def t07_unigram_logprob(spark, sf_dir):
    """Per-doc mean unigram log-probability under the corpus's own
    unigram distribution (``text.unigram_logprob_scores``) — the
    perplexity-proxy quality filter next to t02's rule-based scores.
    The oracle recomputes the full distribution and the count-weighted
    mean in SQL."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.unigram_logprob_scores(spark.table("documents"))


QUERIES["t07_unigram_logprob"] = t07_unigram_logprob
ORACLES["t07_unigram_logprob"] = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents),
    pd AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    freq AS (SELECT tok, SUM(cnt) AS tf FROM pd GROUP BY 1),
    tot AS (SELECT SUM(tf) AS n_total FROM freq)
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           ROUND(SUM(cnt * LN(tf * 1.0 / n_total)) / SUM(cnt), 6)
             AS avg_logprob
    FROM pd JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY 1
"""


QUERIES["g15_raster_roundtrip"] = g15_raster_roundtrip
ORACLES["g15_raster_roundtrip"] = _oracle_geo(
    f"""
    SELECT {cell_encode_sql('best_lat', 'best_long', TILE_RES)} AS cell,
           COUNT(*) AS n_images
    FROM best GROUP BY 1
"""
)


QUERIES["g14_tile_pyramid"] = g14_tile_pyramid
ORACLES["g14_tile_pyramid"] = _oracle_geo(
    "\n    UNION ALL\n".join(
        f"""
    SELECT {r} AS res, {cell_encode_sql('best_lat', 'best_long', r)} AS cell,
           COUNT(*) AS n_images
    FROM best GROUP BY 1, 2
    """
        for r in (TILE_RES, 6, 3)
    )
)


def q14_cube(spark, sf_dir):
    """CUBE aggregate (all grouping-set combinations) — completes the
    grouping-sets family next to q08's ROLLUP."""
    _views(spark, sf_dir)
    return (
        spark.table("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(_dec_sum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n"))
    )


QUERIES["q14_cube"] = q14_cube
ORACLES["q14_cube"] = """
    SELECT o_orderstatus, o_orderpriority,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q15_moving_avg(spark, sf_dir):
    """Window FRAME aggregate: per-user 3-row moving average of event
    values ordered by time (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) —
    the frame-spec member of the window family (q02 covers ranking)."""
    _views(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-2, 0)
    )
    ev = spark.table("events")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 6).alias(
            "mov_avg"
        ),
    )


QUERIES["q15_moving_avg"] = q15_moving_avg
ORACLES["q15_moving_avg"] = """
    SELECT user_id, event_id,
      ROUND(CAST(AVG(CAST(value AS DECIMAL(18,6))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS mov_avg
    FROM events
"""


def d07_dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph → dedup
    clusters (component id, size, keep-doc). Iterative min-label
    propagation with per-round localCheckpoint lineage truncation;
    oracle = a DuckDB recursive CTE computing the same transitive
    closure over the same exact-Jaccard pairs."""
    from batch_geocode_spark.operators import dedup as D

    _views(spark, sf_dir)
    docs = spark.table("documents").repartition(spark.sparkContext.defaultParallelism)
    pairs = D.ngram_jaccard_pairs(docs, n=4, threshold=0.05, max_df=10**6)
    return D.dedup_clusters(pairs).select("component", "n_docs", "keep_doc_id")


def d08_stratified_sample(spark, sf_dir):
    """Deterministic stratified hash sampling (content-addressed, layout
    and engine independent via the md5-derived hash): keep 100% of 'fr',
    50% of 'en', 10% of everything else."""
    from batch_geocode_spark.operators import sampling as SA

    _views(spark, sf_dir)
    docs = spark.table("documents")
    out = SA.stratified_hash_sample(
        docs,
        key_col="doc_id",
        strata_col="lang",
        fractions={"fr": 1.0, "en": 0.5},
        default_fraction=0.1,
        salt="r2",
        token_hash="md5_60",
    )
    return out.select("doc_id", "lang", "source")


def t05_bigram_stats(spark, sf_dir):
    """Corpus-wide top-20 word bigrams (vocabulary statistics): explode →
    count → top-k with unique tiebreak — the classic n-gram profile over
    the documents table."""
    from batch_geocode_spark.operators.dedup import shingle_array

    _views(spark, sf_dir)
    docs = spark.table("documents")
    return (
        docs.select(F.explode(shingle_array(2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


def t06_repetition_scores(spark, sf_dir):
    """Gopher-style intra-document repetition filters (duplicate-line
    fraction, duplicate-line character fraction, top-bigram mass) —
    zero-shuffle Column-expression scans (operators/text.py
    ``repetition_scores``); the oracle recomputes each signal via
    explode-and-group SQL, pinning the sorted run-length-scan
    implementation against the naive definition."""
    from batch_geocode_spark.operators import text as T

    _views(spark, sf_dir)
    return T.repetition_scores(spark.table("documents"))


QUERIES["d07_dedup_clusters"] = d07_dedup_clusters
QUERIES["d08_stratified_sample"] = d08_stratified_sample
QUERIES["t05_bigram_stats"] = t05_bigram_stats
QUERIES["t06_repetition_scores"] = t06_repetition_scores

ORACLES["t06_repetition_scores"] = r"""
    WITH lines AS (
      SELECT doc_id, trim(l) AS line
      FROM documents, UNNEST(string_split(text, chr(10))) AS u(l)
      WHERE trim(l) <> ''),
    lc AS (
      SELECT doc_id, line, COUNT(*) AS c, LENGTH(line) AS len
      FROM lines GROUP BY 1, 2),
    la AS (
      SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
             SUM(c * len) AS total_chars,
             SUM(CASE WHEN c >= 2 THEN c * len ELSE 0 END) AS dup_chars
      FROM lc GROUP BY 1),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks), 1)),
               i -> concat(toks[i], ' ', toks[i+1]))) AS bg
      FROM t WHERE len(toks) >= 2),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    ba AS (SELECT doc_id, MAX(c) AS max_c, SUM(c) AS tot FROM bc GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(la.n_lines, 0) AS BIGINT) AS n_lines,
           ROUND(COALESCE((la.n_lines - la.n_distinct) * 1.0 / la.n_lines, 0.0), 6)
             AS dup_line_frac,
           ROUND(COALESCE(la.dup_chars * 1.0 / la.total_chars, 0.0), 6)
             AS dup_line_char_frac,
           ROUND(COALESCE(ba.max_c * 1.0 / ba.tot, 0.0), 6) AS top_bigram_frac
    FROM documents d
    LEFT JOIN la ON la.doc_id = d.doc_id
    LEFT JOIN ba ON ba.doc_id = d.doc_id
"""

ORACLES["d07_dedup_clusters"] = (
    r"""
    WITH RECURSIVE pairs AS ("""
    + ORACLES["d04_ngram_jaccard"]
    + r"""),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS n_docs, MIN(node) AS keep_doc_id
    FROM comp GROUP BY component
"""
)

ORACLES["d08_stratified_sample"] = r"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(CAST(('0x' || substr(md5(concat('r2', CAST(doc_id AS STRING))), 1, 15))
               AS UBIGINT) % 1000000 AS BIGINT)
        < CASE lang WHEN 'fr' THEN 1000000 WHEN 'en' THEN 500000 ELSE 100000 END
"""

ORACLES["t05_bigram_stats"] = r"""
    WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
    b AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
            i -> concat(toks[i], ' ', toks[i+1]))) AS bigram
          FROM t WHERE len(toks) >= 2)
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
"""


def e05_embedding_dup_clusters(spark, sf_dir):
    """Cross-family composition: exact cosine near-dup pairs (e02) →
    connected components → embedding-level dedup clusters. The oracle
    reuses the e02 pair SQL inside a recursive-CTE transitive closure."""
    from batch_geocode_spark.operators import dedup as D
    from batch_geocode_spark.operators import similarity as S

    _views(spark, sf_dir)
    pairs = S.cosine_near_dup_pairs(spark.table("embeddings"), threshold=0.45)
    return D.dedup_clusters(pairs, id_a="id_a", id_b="id_b").select(
        "component", "n_docs", "keep_doc_id"
    )


QUERIES["e05_embedding_dup_clusters"] = e05_embedding_dup_clusters
ORACLES["e05_embedding_dup_clusters"] = (
    """
    WITH RECURSIVE pairs AS ("""
    + ORACLES["e02_cosine_near_dup"]
    + """),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS n_docs, MIN(node) AS keep_doc_id
    FROM comp GROUP BY component
"""
)


def v01_vet_json_roundtrip(spark, sf_dir):
    """F7/F11/P10 vetting JSON wire round-trip: wide table → split
    meta/geo → to_json payload keyed '<idx>: <caption>' → from_json +
    '^\\d+: ' key strip → merge back. The round trip is lossless, so
    the oracle is the wide-output SQL itself — any drift in the JSON
    emit/parse/strip path breaks the value hash. The merged caption is
    taken from the STRIPPED KEY (meta's copy is dropped) so the prefix
    strip is value-checked, not decorative."""
    from batch_geocode_spark.operators import vetting as V

    images = _images(spark, sf_dir)
    gaz = _gaz(spark, sf_dir)
    vetted, best = G.geocode_images(images, gaz)
    wide = G.to_wide(images, vetted, best, prefixes=WIDE_PREFIXES)
    meta, geo = V.split_meta_geo(wide)
    payload = V.to_vet_payload(geo)
    parsed = V.parse_vet_payload(payload, V.vet_value_schema(geo))
    merged = V.merge_vetted(meta.drop("caption"), parsed)
    exprs = []
    for c in wide.columns:  # original column order
        if c.endswith(("_lat", "_long", "_buffer")):
            exprs.append(F.round(F.col(c), 6).alias(c))
        else:
            exprs.append(F.col(c))
    return merged.select(*exprs)


QUERIES["v01_vet_json_roundtrip"] = v01_vet_json_roundtrip
ORACLES["v01_vet_json_roundtrip"] = _wide_oracle()


def e04_ivf_topk(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer + inverted-list probe + exact
    rescoring), VERIFIED: returns the same machine-checkable
    verification summary as e03 (see the ANN_MIN_RECALL note; the
    high-similarity retrieval contract is pytest-pinned with these
    exact parameters)."""
    from batch_geocode_spark.operators import similarity as S

    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = S.ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4)
    return S.ann_verification_summary(
        ann, queries, emb, k=5, min_recall=ANN_MIN_RECALL_IVF
    )


QUERIES["e04_ivf_topk"] = e04_ivf_topk


def _ann_verify_oracle(extra_cols: str = "") -> str:
    # The oracle's work is asserting the INVARIANTS: a correct ANN over
    # this corpus emits exactly k=5 rows per query (enough candidates
    # exist), every emitted cosine survives an independent exact
    # recompute, ranks are 1..k with non-increasing cosine, no rank-r
    # cosine exceeds the brute-force rank-r cosine, recall clears the
    # documented bar (e04) and the blocking join is candidate-sound
    # (e03). bf_cos_sum is the one VALUE column (ADVICE r5): DuckDB
    # recomputes the brute-force top-5 exact-cosine sum from the
    # embeddings table itself, so the in-engine verification summary is
    # anchored by a cross-engine number — a tolerance or aggregation
    # bug in ann_verification_summary's brute-force branch now fails
    # the hash instead of passing trivially.
    return f"""
    WITH pc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        list_sum(list_transform(range(1, len(c.embedding) + 1),
          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
          AS cos
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    ranked AS (
      SELECT query_id, cos,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rnk
      FROM pc),
    bf AS (
      SELECT query_id, ROUND(SUM(cos), 4) AS bf_cos_sum
      FROM ranked WHERE rnk <= 5 GROUP BY 1)
    SELECT e.vec_id AS query_id,
      CAST(5 AS BIGINT) AS n_emitted,
      CAST(5 AS BIGINT) AS n_cos_verified,
      TRUE AS ranks_ok,
      TRUE AS bounded_ok,
      TRUE AS recall_ok,
      bf.bf_cos_sum AS bf_cos_sum{extra_cols}
    FROM embeddings e JOIN bf ON bf.query_id = e.vec_id
    WHERE e.vec_id < 10
    ORDER BY query_id
"""


ORACLES["e03_ann_topk"] = _ann_verify_oracle(",\n      TRUE AS cand_sound_ok")
ORACLES["e04_ivf_topk"] = _ann_verify_oracle()


def d09_decontamination(spark, sf_dir):
    """Test-set decontamination (training-data hygiene, VERDICT r3 #5):
    flag corpus docs sharing ANY word 8-gram with a held-out eval slice
    (deterministic split: doc_id % 7 == 0 → eval). The eval shingle
    set broadcasts; the corpus side streams shingle-exploded through
    the broadcast join — the shape that works when the corpus is 100 TB
    and the eval set is a benchmark suite."""
    from batch_geocode_spark.operators import dedup as D

    _views(spark, sf_dir)
    docs = spark.table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return D.decontamination_flags(corpus, eval_docs, n=_D09_N)


def e06_semantic_decontamination(spark, sf_dir):
    """Embedding-space decontamination (paraphrase-robust sibling of
    d09): corpus vectors with cosine ≥ 0.45 to any held-out eval vector
    (deterministic split: vec_id % 7 == 0 → eval). Eval side broadcast;
    corpus streams — the 100 TB shape."""
    from batch_geocode_spark.operators import similarity as S

    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    eval_vecs = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    return S.semantic_decontamination(corpus, eval_vecs, threshold=0.45)


QUERIES["e06_semantic_decontamination"] = e06_semantic_decontamination
ORACLES["e06_semantic_decontamination"] = """
    WITH v AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    hits AS (
      SELECT c.vec_id AS corpus_id,
        list_sum(list_transform(range(1, len(c.embedding) + 1),
          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (c.nrm * e.nrm) AS cos_sim
      FROM v c JOIN v e ON e.vec_id % 7 = 0 AND c.vec_id % 7 <> 0
      WHERE list_sum(list_transform(range(1, len(c.embedding) + 1),
          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (c.nrm * e.nrm) >= 0.45)
    SELECT corpus_id, COUNT(*) AS n_eval_hits,
           ROUND(MAX(cos_sim), 6) AS max_sim
    FROM hits GROUP BY corpus_id
"""


_D09_N = 8
_d09_terms = ", ".join(f"t[i+{j}]" for j in range(_D09_N))
QUERIES["d09_decontamination"] = d09_decontamination
ORACLES["d09_decontamination"] = rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - {_D09_N - 2}, 1)),
        i -> concat_ws(' ', {_d09_terms}))) AS shingle
      FROM toks)),
    ev AS (SELECT shingle, doc_id AS eval_doc_id FROM sh WHERE doc_id % 7 = 0),
    co AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 <> 0),
    hits AS (SELECT co.doc_id, co.shingle, ev.eval_doc_id
             FROM co JOIN ev USING (shingle))
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared_shingles,
           COUNT(DISTINCT eval_doc_id) AS n_eval_docs
    FROM hits GROUP BY doc_id
"""


def c01_curation_pipeline(spark, sf_dir):
    """End-to-end curation flagship (VERDICT r4 #6): eval split → exact
    dedup → MinHash clusters (keep min) → n-gram + semantic
    decontamination → quality filter → stratified sample, composed from
    the individually-oracle-checked d01/d05/d07/d09/e06/t02/d08
    operators into ONE deterministic pipeline. base_hash='md5_60' makes
    the MinHash stage cross-engine reproducible, so the WHOLE chain has
    a DuckDB value oracle."""
    from batch_geocode_spark.operators import curation as C

    _views(spark, sf_dir)
    docs = spark.table("documents").repartition(spark.sparkContext.defaultParallelism)
    emb = spark.table("embeddings")
    return C.curate_documents(docs, embeddings=emb, base_hash="md5_60")


def _c01_oracle() -> str:
    """Compose the existing stage templates into one DuckDB query: the
    minhash pair CTE runs over the deduped corpus, the recursive closure
    labels clusters, and the d09/e06/t02/d08 bodies apply in order."""
    pairs_body = _d05_oracle(source="corpus1")
    d09_terms = ", ".join(f"t[i+{j}]" for j in range(_D09_N))
    return rf"""
    WITH RECURSIVE
    corpus0 AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
    keep_exact AS (SELECT MIN(doc_id) AS doc_id FROM corpus0 GROUP BY md5(text)),
    corpus1 AS (SELECT c.* FROM corpus0 c JOIN keep_exact k USING (doc_id)),
    pairs AS ({pairs_body}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    drop_near AS (SELECT node AS doc_id FROM comp WHERE node <> component),
    corpus2 AS (SELECT * FROM corpus1
                WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)),
    toks9 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
    sh9 AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - {_D09_N - 2}, 1)),
        i -> concat_ws(' ', {d09_terms}))) AS shingle
      FROM toks9)),
    ev9 AS (SELECT DISTINCT shingle FROM sh9 WHERE doc_id % 7 = 0),
    leaks AS (SELECT DISTINCT s.doc_id FROM sh9 s
              JOIN ev9 USING (shingle)
              JOIN corpus2 c ON c.doc_id = s.doc_id),
    corpus3 AS (SELECT * FROM corpus2
                WHERE doc_id NOT IN (SELECT doc_id FROM leaks)),
    v AS (SELECT vec_id, embedding,
            sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings),
    sem AS (SELECT DISTINCT c.vec_id AS doc_id
            FROM v c JOIN v e ON e.vec_id % 7 = 0 AND c.vec_id % 7 <> 0
            WHERE list_sum(list_transform(range(1, len(c.embedding) + 1),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                / (c.nrm * e.nrm) >= 0.45),
    corpus4 AS (SELECT * FROM corpus3
                WHERE doc_id NOT IN (SELECT doc_id FROM sem)),
    corpus5 AS (SELECT * FROM corpus4
                WHERE len(string_split_regex(trim(text), '\s+')) >= 5
                  AND len(list_filter(string_split_regex(trim(text), '\s+'),
                          t -> t = 'the' OR t = 'a'))
                      * 1.0 / len(string_split_regex(trim(text), '\s+')) <= 0.5)
    SELECT doc_id, lang, source
    FROM corpus5
    WHERE CAST(CAST(('0x' || substr(md5(concat('r2', CAST(doc_id AS STRING))), 1, 15))
               AS UBIGINT) % 1000000 AS BIGINT)
        < CASE lang WHEN 'fr' THEN 1000000 WHEN 'en' THEN 500000 ELSE 100000 END
    """


QUERIES["c01_curation_pipeline"] = c01_curation_pipeline
ORACLES["c01_curation_pipeline"] = _c01_oracle()
