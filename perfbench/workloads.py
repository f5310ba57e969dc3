"""The two benchmark workloads.

Each workload generates its seeded inputs once, registers them in a
session, runs one untraced iteration of its job (the timed unit), one
traced iteration, and its correctness gates. The traced iteration is a
root span ``iteration`` that makes one pass over the job with a span
around every layer call, each layer's output materialised before the
next one reads it. Layer calls that the job makes only inside another
library function, or that it does not make at all (the ingest layers on
``geo_spatial``), are timed after it under a second root span ``probes``,
so they count neither towards the heavy-layer share nor the tracing
overhead.
Everything here calls the engine's public functions from outside; no
library code is patched.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from batch_geocode_spark import datagen
from batch_geocode_spark import snapshots as SN
from batch_geocode_spark.operators import cluster as CL
from batch_geocode_spark.operators import curation as CU
from batch_geocode_spark.operators import dedup as D
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import knn as K
from batch_geocode_spark.operators import multimodal as MM
from batch_geocode_spark.operators import pip as P
from batch_geocode_spark.operators import rollups as R
from batch_geocode_spark.operators import similarity as S
from batch_geocode_spark.operators import tiles as T
from batch_geocode_spark.oracle.pandas_oracle import extract_key_default, geocode_oracle

from perfbench import inputs

N_BUCKETS = 32
PARQUET_FILES = 8  # pandas-built tables are split so the scan has parallelism


def write_parquet(df: pd.DataFrame, path: str, files: int = PARQUET_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    for k, chunk in enumerate(np.array_split(df, files)):
        chunk.to_parquet(os.path.join(path, f"part-{k:03d}.parquet"), index=False)


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def _gate(name: str, ok: bool, detail="") -> dict:
    return {"name": name, "ok": bool(ok), "detail": detail}


def _materialise(df):
    """Cache ``df`` and run it once, so the next layer reads the cached
    rows and this layer's span holds its whole cost."""
    df = df.cache()
    return df, df.count()


class Workload:
    """Subclasses define ``generate(spark, seed, d, shared) -> meta``,
    ``iteration(ctx) -> result``, ``traced(ctx, tracer, tmp)``
    (which opens the ``iteration`` root span, and ``probes`` if it has
    any) and ``gates(ctx, results) -> [gate]``."""

    name = ""
    heavy: tuple[str, ...] = ()  # layers the traced run must confirm as dominant
    tables: tuple[str, ...] = ()  # parquet inputs under the input dir

    def register(self, spark, d, meta) -> dict:
        ctx = {"spark": spark, "d": d, "meta": meta}
        for tag in self.tables:
            ctx[tag] = spark.read.parquet(os.path.join(d, tag))
        return ctx

    def warm(self, ctx) -> None:
        """The set-up warm-up: one pass over the main input table."""
        ctx[self.tables[0]].count()


# ---------------------------------------------------------- geo_spatial


def oracle_by_key(images: pd.DataFrame, gaz: pd.DataFrame) -> pd.DataFrame:
    """``geocode_oracle`` for every row of ``images``. The oracle's row
    depends only on the place key extracted from the caption, so it runs
    once per distinct key (its per-row pandas loop is slow) and the rows
    are fanned back out to the images."""
    keyed = images.assign(key=images["caption"].map(extract_key_default)).dropna(
        subset=["key"]
    )
    probe = keyed.drop_duplicates("key").assign(image_id=lambda d: d["key"])
    per_key = geocode_oracle(probe[["image_id", "caption"]], gaz, extract_key_default)
    per_key = per_key.rename(columns={"image_id": "key"})
    return keyed[["image_id", "key"]].merge(per_key, on="key").drop(columns="key")


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Best rows equal the oracle's row for row (coordinates to 1e-9)."""
    if len(got) != len(want) or not len(got):
        return False
    want = want.sort_values("image_id").reset_index(drop=True)
    return bool(
        (got["image_id"] == want["image_id"]).all()
        and (got["best_type"] == want["best_type"]).all()
        and (got["num_valid"] == want["num_valid"]).all()
        and all(
            np.allclose(got[c], want[c], rtol=1e-9, atol=1e-9)
            for c in ("best_lat", "best_long", "best_buffer")
        )
    )


RECT_LEVELS = 2  # make_admin_polygons: level 0 = 8x8 grid, level 1 = quadrants
GRID = 8


def rect_admin_ids(lat: np.ndarray, lng: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Level-0 and level-1 admin ids of ``make_admin_polygons(8)`` by
    rectangle arithmetic (no ray-cast); -1 for points off the grid
    (gazetteer jitter can push a place just past the antimeridian)."""
    gx = np.floor((lng + 180.0) / (360.0 / GRID)).astype(np.int64)
    gy = np.floor((lat + 90.0) / (180.0 / GRID)).astype(np.int64)
    l0 = gy * GRID + gx
    qx = np.floor((lng + 180.0) / (180.0 / GRID)).astype(np.int64) - 2 * gx
    qy = np.floor((lat + 90.0) / (90.0 / GRID)).astype(np.int64) - 2 * gy
    l1 = GRID * GRID + l0 * 4 + qy * 2 + qx
    off = (gx < 0) | (gx >= GRID) | (gy < 0) | (gy >= GRID)
    return np.where(off, -1, l0), np.where(off, -1, l1)


def even_odd(px: np.ndarray, py: np.ndarray, ring: list[dict]) -> np.ndarray:
    """Independent numpy even-odd ray-cast for one closed ring."""
    xs = np.asarray([p["x"] for p in ring])
    ys = np.asarray([p["y"] for p in ring])
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(xs) - 1):
        x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
    return inside


class GeoSpatial(Workload):
    """Read-only spatial-join family over the input_hint image table:
    PIP + admin rollup, kNN within image, DBSCAN clusters + summary;
    each action recomputes the geocode backbone, as the query battery
    does. The job reads only the id and caption columns. The payloads
    feed the traced run's probes of the ingest layers: validate, cell
    density and the snapshotted write with its crash and resume."""

    name = "geo_spatial"
    heavy = ("pip", "knn", "cluster")
    tables = ("images", "gazetteer", "polygons")
    N = 15_000
    POOL_SEED = 7
    ORACLE_EVERY = 8  # traced runs check one image in 8 row for row against the oracle
    PIP_RES = 4
    EPS_KM, MIN_PTS, CLUSTER_RES = 25.0, 20, 7

    def payload_pool(self, spark, n: int, shared: str) -> str:
        """Encoded payloads for image ids img0..img{n-1}, made once per
        size by the engine's distributed generator from ``POOL_SEED``
        and shared by every run seed. Encoding takes about 1 ms per
        image on one core, which a run with a new seed would otherwise
        pay before it starts. Decode cost does not depend on the seed:
        it only sets pixel noise, while w, h and fmt follow the row
        index."""
        pool = os.path.join(shared, f"image-payloads-{n}")
        if not os.path.exists(os.path.join(pool, "_SUCCESS")):
            datagen.generate_images_distributed(spark, n, self.POOL_SEED).drop(
                "caption"
            ).write.mode("overwrite").parquet(pool)
        return pool

    def generate(self, spark, seed, d, shared):
        """The input_hint table (each pool file with the seeded captions
        of its image ids, so each seed pairs the payloads with other
        captions), the gazetteer and the admin polygons."""
        pool = self.payload_pool(spark, self.N, shared)
        caps = inputs.caption_table(self.N, seed).set_index("image_id")["caption"]
        os.makedirs(os.path.join(d, "images"))
        for f in sorted(os.listdir(pool)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(pool, f))
            ids = t.column("image_id").to_pylist()
            t = t.append_column("caption", pa.array(caps.loc[ids].tolist(), pa.string()))
            # drop the writer's stored Spark schema, which lacks the caption
            t = t.select(["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
            pq.write_table(t.replace_schema_metadata(None), os.path.join(d, "images", f))
        write_parquet(inputs.gazetteer(seed), os.path.join(d, "gazetteer"), files=1)
        write_parquet(inputs.admin_polygons(seed), os.path.join(d, "polygons"), files=1)
        return {"items": self.N, "seed": seed}

    def _points(self, best):
        return best.select(
            F.col("image_id").alias("pt_id"),
            F.col("best_lat").alias("lat"),
            F.col("best_long").alias("lng"),
        )

    def iteration(self, ctx):
        vetted, best = G.geocode_images(ctx["images"], ctx["gazetteer"])
        rollup = R.admin_rollup(P.pip_join(best, ctx["polygons"], res=self.PIP_RES)).collect()
        knn = K.knn_within_image(vetted).agg(F.count(F.lit(1)).alias("rows")).collect()[0]
        assigned = CL.spatial_clusters(
            self._points(best), self.EPS_KM, self.MIN_PTS, self.CLUSTER_RES
        )
        summary = CL.cluster_summary(assigned).collect()
        return {
            "rollup": sorted(tuple(r) for r in rollup),
            "knn_rows": knn["rows"],
            "clusters": sorted(tuple(r) for r in summary),
        }

    def traced(self, ctx, tr, tmp):
        path = os.path.join(ctx["d"], "images")
        with tr.span("iteration"):
            with tr.span("scan") as s:
                # the columns the job reads; the payloads stay on disk
                images, n = _materialise(
                    ctx["spark"].read.parquet(path).select("image_id", "caption")
                )
                s["counts"].update(rows=n, input_mb=dir_mb(path))
            with tr.span("geocode") as s:
                # candidates cached, vetting a filter over them, the
                # composite best cached for the layers that follow
                cands, nc = _materialise(G.build_candidates(images, ctx["gazetteer"]))
                vetted = G.vet_candidates(cands)
                nv = vetted.count()
                best, nb = _materialise(G.composite_best(vetted))
                s["counts"].update(
                    candidates=nc,
                    vet_keep_ratio=nv / max(nc, 1),
                    best_rows=nb,
                    match_ratio=nb / max(n, 1),
                )
            with tr.span("pip") as s:
                matches, nm = _materialise(P.pip_join(best, ctx["polygons"], res=self.PIP_RES))
                s["counts"].update(matches=nm, matches_per_point=nm / max(nb, 1))
            with tr.span("rollups"):
                R.admin_rollup(matches).collect()
            with tr.span("knn") as s:
                out = K.knn_within_image(vetted).agg(F.count(F.lit(1)).alias("rows")).collect()[0]
                s["counts"].update(rows_in=nv, rows_out=out["rows"])
            with tr.span("cluster") as s:
                points = self._points(best)
                assigned, n_sites = _materialise(
                    CL.spatial_clusters(points, self.EPS_KM, self.MIN_PTS, self.CLUSTER_RES)
                )
                summary = CL.cluster_summary(assigned).collect()
                s["counts"].update(sites=n_sites, clusters=len(summary))
        with tr.span("probes"):
            self._ingest_probes(ctx, tr, tmp, best, nb)
        for df in (images, cands, best, matches, assigned):
            df.unpersist()

    def _ingest_probes(self, ctx, tr, tmp, best, n_best):
        """The ingest layers on the same images: payload validation, cell
        density of the best points, a 32-bucket snapshotted write, and a
        write that fails after two bucket groups and is then resumed.
        The first traced iteration keeps what the gates check."""
        with tr.span("multimodal") as s:
            ok = F.col("decode_ok") & F.col("phash_match") & F.col("dims_ok")
            r = (
                MM.validate_images(ctx["images"])
                .agg(F.count(F.lit(1)).alias("rows"), F.sum((~ok).cast("long")).alias("bad"))
                .collect()[0]
            )
            s["counts"].update(rows=r["rows"], bad_rows=r["bad"])
        with tr.span("tiles") as s:
            dens = T.cell_density(best).select("n_images").toPandas()["n_images"]
            s["counts"].update(cells=len(dens), hot_cell_share=float(dens.max() / dens.sum()))
        table = SN.SnapshotTable(os.path.join(tmp, "full"))
        with tr.span("snapshots.write") as s:
            snap = SN.write_snapshotted(best, table, key_col="image_id", n_buckets=N_BUCKETS)
            n_files = sum(
                f.endswith(".parquet") for _b, _d, fs in os.walk(table.data_dir) for f in fs
            )
            s["counts"].update(
                commits=len(table.history()),
                files=n_files,
                bytes_per_row=dir_mb(table.data_dir) * 2**20 / max(snap["total_rows"], 1),
            )
        crashed = SN.SnapshotTable(os.path.join(tmp, "resume"))
        with tr.span("snapshots.crash"):
            try:
                SN.write_snapshotted(
                    best, crashed, key_col="image_id", n_buckets=N_BUCKETS, fail_after_groups=2
                )
            except RuntimeError:
                pass
        before = sum(crashed.committed_buckets().values())
        with tr.span("snapshots.resume") as s:
            resumed = SN.write_snapshotted(best, crashed, key_col="image_id", n_buckets=N_BUCKETS)
            s["counts"].update(rows_rewritten=resumed["total_rows"] - before)
        if "probe" not in ctx:
            ctx["probe"] = {
                "validated": r["rows"],
                "bad_rows": r["bad"],
                "density_images": int(dens.sum()),
                "best_rows": n_best,
                "snapshot_rows": snap["total_rows"],
                "resumed_rows": resumed["total_rows"],
                "table": table.read(ctx["spark"]).drop("bucket").toPandas(),
            }

    def expected_rollup(self, ctx) -> list[tuple]:
        """``admin_rollup`` rows computed without Spark: the oracle's best
        point of every image, the grid rectangles matched by arithmetic,
        the concave polygons by ``even_odd``."""
        gaz = pd.read_parquet(os.path.join(ctx["d"], "gazetteer"))
        meta = ctx["meta"]
        best = oracle_by_key(inputs.caption_table(meta["items"], meta["seed"]), gaz)
        lat, lng = best["best_lat"].to_numpy(), best["best_long"].to_numpy()
        polys = pd.read_parquet(os.path.join(ctx["d"], "polygons")).set_index("admin_id")
        counts: Counter = Counter()
        for ids in rect_admin_ids(lat, lng):
            counts.update(ids[ids >= 0].tolist())
        for aid, poly in polys[polys["admin_level"] == RECT_LEVELS].iterrows():
            counts[int(aid)] += int(even_odd(lng, lat, list(poly["rings"][0])).sum())
        return sorted(
            (polys.at[a, "iso2"], int(polys.at[a, "admin_level"]), polys.at[a, "name"], c)
            for a, c in counts.items()
            if c > 0
        )

    def gates(self, ctx, results):
        first = results[0]["clusters"]
        want = self.expected_rollup(ctx)
        concave = sum(r[3] for r in want if r[1] == RECT_LEVELS)
        out = [
            _gate(
                "clusters_identical_across_iterations",
                len(first) > 0 and all(r["clusters"] == first for r in results),
                f"{len(first)} clusters",
            ),
            # equal per-polygon counts at levels 0/1 mean every best point
            # on the grid matched exactly one rectangle of each level
            _gate(
                "pip_rollup_matches_rect_arithmetic_and_raycast",
                concave > 0 and all(r["rollup"] == want for r in results),
                f"{len(want)} polygons, {concave} points in concave polygons",
            ),
        ]
        if "probe" in ctx:  # traced runs also check the ingest probes
            out += self.probe_gates(ctx)
        return out

    def probe_gates(self, ctx) -> list[dict]:
        p, (n, seed) = ctx["probe"], (ctx["meta"]["items"], ctx["meta"]["seed"])
        table = p["table"]
        # a seeded one-in-ORACLE_EVERY sample of the written best rows
        k = seed % self.ORACLE_EVERY
        sample = inputs.caption_table(n, seed).iloc[k :: self.ORACLE_EVERY]
        got = table[table["image_id"].isin(sample["image_id"])]
        got = got.sort_values("image_id").reset_index(drop=True)
        want = oracle_by_key(sample, pd.read_parquet(os.path.join(ctx["d"], "gazetteer")))
        rows = (p["best_rows"], p["density_images"], p["snapshot_rows"], len(table))
        return [
            _gate(
                "payload_integrity",
                p["validated"] == ctx["meta"]["items"] and p["bad_rows"] == 0,
                (p["validated"], p["bad_rows"]),
            ),
            # density n_images sum, manifest total_rows and the rows read
            # back all equal the best-row count
            _gate("best_rows_agree", len(set(rows)) == 1, rows),
            _gate("resume_completes_table", p["resumed_rows"] == p["best_rows"], p["resumed_rows"]),
            _gate("oracle_sample", frames_match(got, want), (len(got), len(want))),
        ]


# ---------------------------------------------------------- curate_docs


class CurateDocs(Workload):
    """``curate_documents`` over a planted corpus, then a collect of the
    surviving ids."""

    name = "curate_docs"
    heavy = ("dedup", "similarity", "curation")
    tables = ("docs", "embeddings")
    PLAN = inputs.CorpusPlan()

    def generate(self, spark, seed, d, shared):
        docs, emb, expected, survivors = inputs.corpus(self.PLAN, seed)
        write_parquet(docs, os.path.join(d, "docs"))
        write_parquet(emb, os.path.join(d, "embeddings"))
        return {"items": len(docs), "seed": seed, "expected": expected, "survivors": survivors}

    @staticmethod
    def curate(docs, emb, **kw):
        return CU.curate_documents(
            docs,
            embeddings=emb,
            fractions=inputs.SAMPLE_FRACTIONS,
            default_fraction=0.0,
            **kw,
        )

    def iteration(self, ctx):
        out = self.curate(ctx["docs"], ctx["embeddings"]).select("doc_id").collect()
        return {"ids": sorted(r["doc_id"] for r in out)}

    def traced(self, ctx, tr, tmp):
        spark, d = ctx["spark"], ctx["d"]
        with tr.span("iteration"):
            with tr.span("scan") as s:
                docs, n = _materialise(spark.read.parquet(os.path.join(d, "docs")))
                emb, _ = _materialise(spark.read.parquet(os.path.join(d, "embeddings")))
                s["counts"].update(
                    rows=n,
                    input_mb=dir_mb(os.path.join(d, "docs"))
                    + dir_mb(os.path.join(d, "embeddings")),
                )
            with tr.span("curation") as s:
                out, stages = self.curate(docs, emb, with_metrics=True)
                out.count()
                s["counts"].update({f"stage_rows.{k}": v for k, v in stages.items()})
        ctx["stage_rows"] = stages
        # curate_documents calls dedup and similarity inside its own span;
        # here each is called on its own, with the pipeline's parameters.
        # These figures move with a change to those functions; a change
        # to curate_documents alone moves only the curation.* figures.
        mod = inputs.EVAL_MOD
        eval_docs = docs.filter(F.col("doc_id") % mod == 0)
        corpus0 = docs.filter(F.col("doc_id") % mod != 0)
        keep = corpus0.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
        corpus = corpus0.join(keep.select("doc_id"), "doc_id", "left_semi")
        with tr.span("probes"):
            with tr.span("dedup.lsh") as s:
                pairs, n_pairs = _materialise(D.minhash_lsh_pairs(corpus, n=4, threshold=0.5))
                s["counts"].update(pairs=n_pairs)
            with tr.span("dedup.cc"):
                D.dedup_clusters(pairs).collect()
            with tr.span("dedup.decon") as s:
                s["counts"].update(flagged=D.decontamination_ids(corpus0, eval_docs, n=8).count())
            with tr.span("similarity") as s:
                flagged = S.semantic_decontamination(
                    emb.filter(F.col("vec_id") % mod != 0),
                    emb.filter(F.col("vec_id") % mod == 0),
                    threshold=0.45,
                ).count()
                s["counts"].update(flagged=flagged)
        for df in (docs, emb, pairs):
            df.unpersist()

    def gates(self, ctx, results):
        # the planted kinds each leave a known id set: the clean docs, the
        # lowest id of every exact-duplicate group and the chain head
        want = ctx["meta"]["survivors"]
        out = [
            _gate(
                "survivor_ids_match_plan",
                all(r["ids"] == want for r in results),
                {"got": [len(r["ids"]) for r in results], "want": len(want)},
            )
        ]
        if "stage_rows" in ctx:  # traced runs also check every stage's count
            got, exp = ctx["stage_rows"], ctx["meta"]["expected"]
            out.append(_gate("stage_counts_match_plan", got == exp, {"got": got, "want": exp}))
        return out


WORKLOADS = {w.name: w for w in (GeoSpatial, CurateDocs)}
