"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of (size, seed): the same seed
gives byte-identical tables, a different seed gives different rows with
the same planted property counts (hot-metro share, duplicate groups,
chain depth, contamination plants). The engine only ever sees the
generated parquet files; it never receives the seed.

The image payloads of ``geo_spatial`` come from the engine's own
distributed generator (``datagen.generate_images_distributed``, see
``workloads.GeoSpatial``); everything here is numpy/pandas.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from batch_geocode_spark import datagen

# ------------------------------------------------------------------ geo


def caption_table(n: int, seed: int) -> pd.DataFrame:
    """Caption-only image table (image_id, caption). Captions are the
    generator's ``caption_for(j)`` over a seeded permutation j of
    0..n-1, so the multiset of captions (and with it the hot-metro
    share ``datagen.P_DENSE``) is identical for every seed while the
    id -> caption assignment differs."""
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(n)
    return pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in range(n)],
            "caption": [datagen.caption_for(int(j))[0] for j in perm],
        }
    )


def gazetteer(seed: int) -> pd.DataFrame:
    return datagen.make_gazetteer(seed=seed)


def concave_polygons(seed: int, k: int = 4, first_id: int = 10_000) -> pd.DataFrame:
    """``k`` seeded star-shaped (concave) polygons at admin_level 2,
    each placed near a hot metro or a random place so that many best
    points fall in their cover cells and reach the boundary ray-cast."""
    rng = np.random.default_rng([seed, 2])
    pids = list(datagen.DENSE_METROS) + [
        int(p) for p in rng.integers(3, datagen.N_PLACES, k)
    ]
    rows = []
    for j in range(k):
        lat0, lng0 = (float(v[0]) for v in datagen._place_base(np.asarray([pids[j]])))
        cx = lng0 + rng.uniform(-0.3, 0.3)
        cy = lat0 + rng.uniform(-0.3, 0.3)
        n_tips = int(rng.integers(5, 8))
        r_out = rng.uniform(0.6, 1.5)
        phase = rng.uniform(0.0, np.pi)
        ang = phase + np.arange(2 * n_tips) * np.pi / n_tips
        rad = np.where(np.arange(2 * n_tips) % 2 == 0, r_out, 0.35 * r_out)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        ring = [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)]
        ring.append(ring[0])
        rows.append(
            dict(
                admin_id=first_id + j,
                iso2="zz",
                admin_level=2,
                name=f"Concave {j}",
                rings=[ring],
                bb_w=float(xs.min()),
                bb_s=float(ys.min()),
                bb_e=float(xs.max()),
                bb_n=float(ys.max()),
            )
        )
    return pd.DataFrame(rows)


def admin_polygons(seed: int) -> pd.DataFrame:
    """The 320-rectangle ``make_admin_polygons`` grid (levels 0 and 1)
    plus the seeded concave polygons (level 2)."""
    return pd.concat(
        [datagen.make_admin_polygons(8), concave_polygons(seed)], ignore_index=True
    )


# ----------------------------------------------------------- documents

EVAL_MOD = 7  # curate_documents' default eval split: doc_id % 7 == 0
DOC_LEN = 60
DIM = 32


@dataclass(frozen=True)
class CorpusPlan:
    """How many documents of each planted kind the corpus holds. Each
    kind is removed by exactly one curation stage."""

    clean: int = 200  # survive every stage
    eval_docs: int = 75  # doc_id % 7 == 0: held out
    dup_groups: int = 30  # exact-duplicate groups, 2..4 copies each
    chain: int = 300  # near-duplicate sliding-window chain
    ngram_leaks: int = 20  # share an 8-gram with an eval doc
    semantic_leaks: int = 20  # embedding next to an eval embedding
    low_quality: int = 20  # stopword-heavy text
    dropped_lang: int = 20  # lang outside the sample's strata


# strata the curation sample keeps in full; "zz" docs get default 0.0
KEEP_LANGS = ("en", "fr", "de")
SAMPLE_FRACTIONS = {lang: 1.0 for lang in KEEP_LANGS}


def _random_text(rng, n_tokens: int = DOC_LEN) -> str:
    return " ".join(f"u{int(x)}" for x in rng.integers(0, 50_000, n_tokens))


def corpus(plan: CorpusPlan, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, dict, list[int]]:
    """(docs, embeddings, expected stage counts, surviving doc ids).

    docs: (doc_id, text, lang, source); embeddings: (vec_id, embedding
    float32[DIM]) for every doc. Eval docs take the multiples of 7 as
    ids; every corpus doc takes a non-multiple, so the eval split is
    exact. Eval embeddings live in dims [0, DIM/2) and every other
    embedding in [DIM/2, DIM) — cosine exactly 0 — except the planted
    semantic leaks, which copy an eval vector plus small noise.

    The expected dict maps each ``curate_documents(with_metrics=True)``
    stage name to its surviving row count; the survivors are the clean
    docs, the lowest id of each duplicate group and the chain head."""
    rng = np.random.default_rng([seed, 3])
    half = DIM // 2
    corpus_ids = (i for i in range(1, 10**9) if i % EVAL_MOD)
    docs: list[tuple[int, str, str]] = []  # (doc_id, text, lang)
    vecs: dict[int, np.ndarray] = {}

    def clean_vec() -> np.ndarray:
        v = np.zeros(DIM, dtype=np.float32)
        v[half:] = rng.normal(size=half)
        return v

    def lang() -> str:
        return KEEP_LANGS[int(rng.integers(0, len(KEEP_LANGS)))]

    def add(text: str, lang_: str, vec: np.ndarray | None = None) -> int:
        did = next(corpus_ids)
        docs.append((did, text, lang_))
        vecs[did] = clean_vec() if vec is None else vec
        return did

    eval_texts, eval_vecs = [], []
    for j in range(plan.eval_docs):
        did = EVAL_MOD * (j + 1)
        text = _random_text(rng)
        v = np.zeros(DIM, dtype=np.float32)
        v[:half] = rng.normal(size=half)
        docs.append((did, text, lang()))
        vecs[did] = v
        eval_texts.append(text)
        eval_vecs.append(v)

    survivors = [add(_random_text(rng), lang()) for _ in range(plan.clean)]

    dup_removed = 0
    for j in range(plan.dup_groups):
        # 2..4 copies, fixed per group so every seed plants the same count
        text, copies = _random_text(rng), 2 + j % 3
        lang_ = lang()
        survivors += [add(text, lang_) for _ in range(copies)][:1]
        dup_removed += copies - 1

    # sliding window over one token stream: adjacent docs share 55 of 60
    # tokens (4-gram Jaccard ~0.84), so the pair graph is one path
    stride = 5
    stream = [f"w{int(x)}" for x in rng.integers(0, 5000, plan.chain * stride + DOC_LEN)]
    chain = [
        add(" ".join(stream[i * stride : i * stride + DOC_LEN]), lang())
        for i in range(plan.chain)
    ]
    survivors.append(chain[0])

    for _ in range(plan.ngram_leaks):
        src = eval_texts[int(rng.integers(0, len(eval_texts)))].split()
        at = int(rng.integers(0, DOC_LEN - 8))
        body = _random_text(rng, DOC_LEN - 8).split()
        cut = int(rng.integers(0, len(body)))
        add(" ".join(body[:cut] + src[at : at + 8] + body[cut:]), lang())

    for _ in range(plan.semantic_leaks):
        e = eval_vecs[int(rng.integers(0, len(eval_vecs)))]
        v = e.copy()
        v[half:] = 0.05 * rng.normal(size=half)
        add(_random_text(rng), lang(), v.astype(np.float32))

    for _ in range(plan.low_quality):
        toks = []
        for x in rng.integers(0, 50_000, DOC_LEN // 3):
            toks += [f"u{int(x)}", "the", "a"]
        add(" ".join(toks), lang())

    for _ in range(plan.dropped_lang):
        add(_random_text(rng), "zz")

    order = rng.permutation(len(docs))
    ids = np.asarray([docs[i][0] for i in order], dtype=np.int64)
    docs_df = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [docs[i][1] for i in order],
            "lang": [docs[i][2] for i in order],
            "source": [f"src{int(s)}" for s in rng.integers(0, 20, len(docs))],
        }
    )
    emb_df = pd.DataFrame(
        {"vec_id": ids, "embedding": [vecs[int(i)] for i in ids]}
    )

    n_in = len(docs)
    after = {"input": n_in, "corpus_after_eval_split": n_in - plan.eval_docs}
    after["after_exact_dedup"] = after["corpus_after_eval_split"] - dup_removed
    after["after_near_dedup"] = after["after_exact_dedup"] - (plan.chain - 1)
    after["after_ngram_decontamination"] = after["after_near_dedup"] - plan.ngram_leaks
    after["after_semantic_decontamination"] = (
        after["after_ngram_decontamination"] - plan.semantic_leaks
    )
    after["after_quality_filter"] = after["after_semantic_decontamination"] - plan.low_quality
    after["after_stratified_sample"] = after["after_quality_filter"] - plan.dropped_lang
    return docs_df, emb_df, after, sorted(survivors)


# --------------------------------------------------------------- digest


def digest(*frames: pd.DataFrame) -> str:
    """Content digest of generated tables (row order included)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        for col in df.columns:
            for v in df[col]:
                h.update(np.asarray(v).tobytes() if isinstance(v, np.ndarray) else repr(v).encode())
    return h.hexdigest()[:16]
