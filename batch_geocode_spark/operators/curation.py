"""End-to-end training-data curation pipeline (VERDICT r4 #6): chains
the dedup / decontamination / quality / sampling families into the
canonical corpus-curation job —

    held-out eval split
      → exact dedup (keep min doc_id per identical text)
      → MinHash+LSH near-dup clusters (keep each cluster's min)
      → n-gram decontamination vs the eval split      (d09 shape)
      → semantic (embedding) decontamination          (e06 shape)
      → quality filter (token count / stopword ratio) (t02 shape)
      → deterministic stratified hash sample          (d08 shape)

Every stage is the already-oracle-checked operator; the composition is
deterministic end-to-end, so the whole pipeline has a DuckDB value
oracle (entry_queries.c01) and can be snapshotted with per-stage
row-count metrics in the manifest (``curate_snapshotted``).

Scale shape: each stage is a keyed agg or broadcast join over the
corpus — the corpus never shuffles at full payload width; the only
corpus-keyed shuffles are the dedup aggregates, and the decontamination
stages broadcast the (small) eval side. At 100 TB the stage order
matters: exact dedup runs FIRST so identical boilerplate never reaches
the LSH band join (see ``dedup._banded_candidates`` for the hot-bucket
cap that guards the residual near-identical families).

No counterpart in the reference repo (a per-row geocoding web app);
this module exists for the training-data-pipeline mandate.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from batch_geocode_spark.operators.text import _tokens


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """Keep docs passing the t02-style quality gates: at least
    ``min_tokens`` whitespace tokens and a stopword ratio at most
    ``max_stopword_ratio`` (pure Column exprs, no UDFs)."""
    toks = _tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    return docs.filter(
        (F.size(toks) >= min_tokens)
        & (stop / F.size(toks) <= max_stopword_ratio)
    )


def curate_documents(
    docs: DataFrame,
    embeddings: DataFrame | None = None,
    eval_mod: int = 7,
    jaccard_threshold: float = 0.5,
    decon_ngram: int = 8,
    semantic_threshold: float = 0.45,
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.5,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.1,
    salt: str = "r2",
    base_hash: str = "xxhash64",
    max_band_df: int | None = None,
    with_metrics: bool = False,
) -> DataFrame | tuple[DataFrame, dict]:
    """Run the full curation chain; returns the curated docs DataFrame
    (doc_id, lang, source), or ``(df, metrics)`` with per-stage
    surviving row counts when ``with_metrics``.

    The counts run no job of their own: each stage frame carries an
    unnamed ``Observation`` (``DataFrame.observe``) and the jobs that
    already run fill it. An observation keeps the counts of the FIRST
    action that runs its frame, so that action must read the whole
    frame (a ``limit``/``show`` first would record only its prefix).
    With metrics the call therefore materialises the result itself
    (one ``localCheckpoint``) and returns it with plain-int counts;
    without metrics the plan is the bare lineage.

    ``embeddings`` (vec_id, embedding) joins on doc_id = vec_id for the
    semantic stage; docs without an embedding pass through it
    unflagged. ``base_hash='md5_60'`` makes the MinHash stage (and so
    the whole pipeline) cross-engine deterministic for the DuckDB
    oracle; production defaults to xxhash64."""
    from batch_geocode_spark.operators import dedup as D
    from batch_geocode_spark.operators import sampling as SA
    from batch_geocode_spark.operators import similarity as S

    observed: dict[str, tuple[Observation, DataFrame]] = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if not with_metrics:
            return df
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        observed[stage] = (obs, df)
        return df

    docs = note("input", docs)
    eval_docs = docs.filter(F.col("doc_id") % eval_mod == 0)
    corpus0 = note(
        "corpus_after_eval_split", docs.filter(F.col("doc_id") % eval_mod != 0)
    )

    # 1. exact dedup: keep the min doc_id of every identical-text group
    keep_exact = (
        corpus0.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    corpus = note("after_exact_dedup", corpus0.join(keep_exact, "doc_id", "left_semi"))

    # 2. MinHash near-dup clusters: drop every member except the
    # cluster's min doc_id, its component label (docs in no cluster
    # survive by definition)
    pairs = D.minhash_lsh_pairs(
        corpus,
        n=4,
        threshold=jaccard_threshold,
        base_hash=base_hash,
        max_band_df=max_band_df,
    )
    drop_near = (
        D.connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    corpus = note("after_near_dedup", corpus.join(drop_near, "doc_id", "left_anti"))

    # 3. n-gram decontamination vs the eval split (broadcast eval side).
    # Flags are computed over the PRE-DEDUP corpus split, not the
    # deduped `corpus`: leak-flagging is a per-doc predicate (does THIS
    # doc share an n-gram with eval), so flags(corpus0) ∩ corpus ==
    # flags(corpus) and the left_anti result is identical — while the
    # flag branch no longer embeds the exact+near-dedup join prefix a
    # second time in the plan (r7, guide §2.4: the duplicated subtree
    # cost a repeated md5-dedup aggregate + joins per action; oracle
    # c01 likewise derives `leaks` from the full document set).
    leaks = D.decontamination_ids(corpus0, eval_docs, n=decon_ngram)
    corpus = note(
        "after_ngram_decontamination", corpus.join(leaks, "doc_id", "left_anti")
    )

    # 4. semantic decontamination via embeddings (doc_id = vec_id)
    if embeddings is not None:
        eval_vecs = embeddings.filter(F.col("vec_id") % eval_mod == 0)
        corpus_vecs = embeddings.filter(F.col("vec_id") % eval_mod != 0)
        sem = S.semantic_decontamination(
            corpus_vecs, eval_vecs, threshold=semantic_threshold
        ).select(F.col("corpus_id").alias("doc_id"))
        corpus = corpus.join(sem, "doc_id", "left_anti")
    corpus = note("after_semantic_decontamination", corpus)

    # 5. quality gates
    corpus = note(
        "after_quality_filter",
        quality_filter(
            corpus, min_tokens=min_tokens, max_stopword_ratio=max_stopword_ratio
        ),
    )

    # 6. deterministic stratified sample (content-addressed hash)
    out = SA.stratified_hash_sample(
        corpus,
        key_col="doc_id",
        strata_col="lang",
        fractions=fractions if fractions is not None else {"fr": 1.0, "en": 0.5},
        default_fraction=default_fraction,
        salt=salt,
        token_hash="md5_60" if base_hash == "md5_60" else "xxhash64",
    ).select("doc_id", "lang", "source")

    if not with_metrics:
        return out
    out = note("after_stratified_sample", out).localCheckpoint()
    return out, {stage: _observed_rows(*o) for stage, o in observed.items()}


def _observed_rows(obs: Observation, df: DataFrame) -> int:
    """The row count ``obs`` recorded on ``df``. Adaptive execution can
    skip a frame whose join partner came up empty; the observation then
    holds no row, and the count is taken with a job of its own."""
    try:
        return int(obs.get["n"])
    except Py4JJavaError:
        return df.count()


def curate_snapshotted(
    docs: DataFrame,
    table,
    embeddings: DataFrame | None = None,
    n_buckets: int = 32,
    job_id: str | None = None,
    **kwargs,
) -> dict:
    """Curate and write the result as a bucketed snapshot whose manifest
    carries the per-stage row-count metrics — the auditable record a
    curation run leaves behind (how many docs each stage removed)."""
    from batch_geocode_spark.snapshots import write_snapshotted

    out, metrics = curate_documents(
        docs, embeddings=embeddings, with_metrics=True, **kwargs
    )
    return write_snapshotted(
        out,
        table,
        key_col="doc_id",
        n_buckets=n_buckets,
        job_id=job_id,
        metrics={"curation_stages": metrics},
    )
