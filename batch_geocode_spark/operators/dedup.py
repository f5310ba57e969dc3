"""Deduplication operators for a large-scale training-data pipeline.

All four families over the ``documents`` table:

- exact            : hash-groupBy (one shuffle, combiner-friendly)
- n-gram Jaccard   : shingle inverted-index self-join with hot-shingle
                     pruning (max_df) — the classic blocked pair join;
                     never a cross join
- MinHash + LSH    : affine permutations over a 64-bit base hash
                     (h_i = a_i·x + b_i mod p), banded signature join
- SimHash          : token-hash sign aggregation (numpy, Arrow-batched),
                     near-dup pairs via 16-bit band join on the 64-bit
                     fingerprint

Scale shape: every stage is either a map or a keyed aggregate/join with
map-side combine; candidate generation is always join-on-block-key, and
every approximate method ends in an exact verify step on candidate
pairs only.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^31-1 (Mersenne prime): affine-permutation products stay < 2^62,
# safe under ANSI int64 arithmetic; 31-bit hash space is ample for
# MinHash (collision prob ~ |shingles| / 2^31)
MERSENNE_P31 = (1 << 31) - 1


# ------------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with count and
    the minimal doc_id to keep."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


# ----------------------------------------------------------------- shingles
def shingle_array(n: int = 4, text_col: str = "text"):
    """Column expression: the (possibly repeating) word n-gram array of
    one row's text — pure Column exprs (sequence/transform/slice), no
    UDF. Row-local, so it is stream-safe (streaming.py uses it for the
    stateless decontamination map).

    The text is split ONCE per row: the token array is bound as the
    variable of an outer one-element ``transform``. Referenced directly
    inside the per-shingle lambda, the split would be re-evaluated for
    every shingle (the interpreted lambda does not share it)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def from_tokens(t):
        # guard: Spark sequence(1, 0) would be DESCENDING, not empty
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))

    return F.element_at(F.transform(F.array(toks), from_tokens), 1)


def word_shingles(docs: DataFrame, n: int = 4, text_col: str = "text") -> DataFrame:
    """Distinct (doc_id, shingle) pairs of word n-grams."""
    return (
        docs.select("doc_id", F.explode(shingle_array(n, text_col)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 4,
    threshold: float = 0.5,
    max_df: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    Shingles appearing in more than ``max_df`` docs are pruned from the
    *blocking* step only — with the convention that pair candidates come
    from shared rare shingles. Jaccard itself is computed on full
    shingle sets, so results are exact for every candidate pair.

    The whole index is built over 64-bit shingle HASHES, not strings:
    every shuffle (the per-doc distinct, the df counts, the two
    inverted-index self-joins) carries 8-byte keys instead of ~30-byte
    n-gram text — the dominant shuffle-volume term at corpus scale. A
    within-pair hash collision (the only kind that could perturb a
    Jaccard value) has probability ~|union|²/2⁶⁴ per pair.

    The plan references the (doc, hash) table five times (sizes, df
    counts, rare index, both self-join sides), so it is persisted
    spill-safe for the duration of the call and the small pair result is
    materialized eagerly (the ``minhash_lsh_pairs`` contract —
    construction runs Spark jobs, the persisted table is unpersisted
    before returning).
    """
    from pyspark import StorageLevel

    sh = (
        docs.select("doc_id", F.explode(shingle_array(n, text_col)).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("x"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    df_counts = sh.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(
        df_counts.filter(F.col("df") <= max_df).select("x"), "x", "inner"
    )
    a = rare.select(F.col("doc_id").alias("doc_a"), "x")
    b = rare.select(F.col("doc_id").alias("doc_b"), "x")
    shared = (
        a.join(b, "x")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_rare"))
    )
    # exact intersection on full sets for candidates
    full_a = sh.select(F.col("doc_id").alias("doc_a"), "x")
    full_b = sh.select(F.col("doc_id").alias("doc_b"), "x")
    inter = (
        full_a.join(full_b, "x")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(shared.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "set_size": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "set_size": "size_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "n_inter", "size_a", "size_b", F.round("jaccard", 6).alias("jaccard"))
        .localCheckpoint()
    )
    sh.unpersist()
    return out


def decontamination_flags(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing ANY word
    n-gram with an eval/benchmark set — the classic training-data
    hygiene pass (eval n-gram overlap ⇒ the doc leaks the benchmark).

    Returns one row per CONTAMINATED corpus doc:
    (doc_id, n_shared_shingles, n_eval_docs) — how many distinct
    n-grams it shares with the eval set and how many eval docs those
    n-grams touch.

    Scale shape: the eval set is tiny relative to a 100 TB corpus, so
    its distinct (shingle, eval_doc) table is the BROADCAST side; the
    corpus side streams shingle-exploded through a broadcast hash join
    and aggregates per doc — no corpus-side shuffle before the (small,
    post-filter) per-doc agg."""
    # corpus side: RAW exploded shingles, deliberately NOT distinct —
    # word_shingles' per-doc dedup is a full shuffle of wide strings,
    # and the countDistinct aggregates below are insensitive to
    # duplicate (doc, shingle) rows, so the only corpus-side shuffle is
    # the (post-broadcast-filter, tiny) per-doc agg.
    corpus_sh = corpus.select(
        "doc_id", F.explode(shingle_array(n, text_col)).alias("shingle")
    )
    eval_sh = word_shingles(eval_docs, n=n, text_col=text_col).select(
        "shingle", F.col("doc_id").alias("eval_doc_id")
    )
    hits = corpus_sh.join(F.broadcast(eval_sh), "shingle")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shared_shingles"),
        F.countDistinct("eval_doc_id").alias("n_eval_docs"),
    )


def decontamination_ids(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Just the contaminated doc ids — the curation-pipeline shape
    (r7): when the caller only anti-joins the flagged set, the per-doc
    countDistinct aggregation of ``decontamination_flags`` (which
    shuffles every matched (doc, shingle, eval_doc) tuple) is wasted
    work. A left-semi probe against the broadcast DISTINCT eval
    shingle set followed by a distinct on doc_id flags the identical
    doc set (a doc leaks iff it shares ANY n-gram) with one narrow
    id-only shuffle."""
    corpus_sh = corpus.select(
        "doc_id", F.explode(shingle_array(n, text_col)).alias("shingle")
    )
    eval_sh = (
        eval_docs.select(F.explode(shingle_array(n, text_col)).alias("shingle"))
        .distinct()
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )


# ------------------------------------------------------------ MinHash + LSH
def _banded_candidates(banded: DataFrame, max_band_df: int | None) -> DataFrame:
    """Candidate pairs from a (doc_id, band, band_key) table.

    Uncapped (``max_band_df=None``): plain band-key self-join — a
    bucket of m docs emits m(m-1)/2 pairs, which explodes on
    template-dominated corpora (boilerplate crawl data routinely puts
    thousands of near-identical docs in one bucket; the 100 TB common
    case).

    Capped: buckets over ``max_band_df`` switch to STAR pairing — every
    member pairs with the bucket's minimum doc_id only (m-1 pairs,
    linear). The exact-verify step still scores each emitted pair, and
    downstream ``dedup_clusters`` reunites the family through the hub,
    so a genuinely near-identical template family keeps one connected
    component. The recall trade: a pair of similar docs that co-occurs
    ONLY in hot buckets and whose members both differ from the hub doc
    is no longer emitted directly (it stays in the same cluster only if
    each side matches the hub). Run exact dedup first (d01) so
    identical docs never reach the LSH stage — then hot buckets are
    near-identical families where the star is a faithful proxy."""
    if max_band_df is None:
        a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
        b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
        return (
            a.join(b, ["band", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    # bucket sizing via map-side-combinable groupBy, NOT a window: a
    # window over (band, band_key) would shuffle every hot bucket's
    # rows onto a single task — the exact skewed key the cap exists to
    # defuse. The aggregate reduces to one row per bucket; only the
    # (few) over-cap buckets broadcast back.
    stats = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("band_df"), F.min("doc_id").alias("band_min")
    )
    hot = F.broadcast(stats.filter(F.col("band_df") > max_band_df))
    cold = banded.join(
        hot.select("band", "band_key"), ["band", "band_key"], "left_anti"
    )
    a = cold.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = cold.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand_cold = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    cand_hot = (
        banded.join(hot.select("band", "band_key", "band_min"), ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("band_min"))
        .select(F.col("band_min").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return cand_cold.unionByName(cand_hot).distinct()


def _perm_params(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P31 - 1, size=num_perm, dtype=np.int64).tolist()
    b = rng.integers(0, MERSENNE_P31 - 1, size=num_perm, dtype=np.int64).tolist()
    return a, b


def _grouped_shingle_hashes(
    sh: DataFrame, base_hash: str = "xxhash64"
) -> DataFrame:
    """(doc_id, xs: array<long>): each doc's DISTINCT shingle hashes in
    one row. collect_set both dedups (so the explode side needs no
    .distinct() shuffle of wide strings) and partial-aggregates map-side
    — the only shuffle carries 8-byte hashes, not shingle text.

    xs carries the FULL 60/64-bit hash: the mod-p reduction the affine
    permutations need happens inside the signature kernel
    (``_batch_signature_matrices``), so the exact-verify intersections
    run on the unreduced hash space (ADVICE r6: reducing here put
    within-doc collisions at ~|set|²/2³² and the d05 oracle verifies
    over raw shingle strings; at 2⁶⁰/2⁶⁴ a within-pair collision is
    ~|union|²/2⁶⁰ ≈ 1e-12)."""
    from batch_geocode_spark.functions.hashing import hash60

    if base_hash == "xxhash64":
        h = F.xxhash64("shingle")
    elif base_hash == "md5_60":
        h = hash60(F.col("shingle"))
    else:
        raise ValueError(f"unknown base_hash {base_hash!r}")
    base = sh.select("doc_id", h.alias("x"))
    return base.groupBy("doc_id").agg(F.collect_set("x").alias("xs"))


def _batch_signature_matrices(
    it: Iterator[pd.DataFrame], num_perm: int, seed: int
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Per Arrow batch of (doc_id, xs): (doc_id vector, docs×num_perm
    signature matrix). Ragged-array formulation: flatten every doc's
    shingle hashes into one vector, then per permutation one affine map
    over the whole batch + segmented min via reduceat — no Python-level
    per-doc loop. Values identical to the per-row (num_perm ×
    n_shingles) matrix formulation. xs arrives UNREDUCED (full 60/64-bit
    hashes, see ``_grouped_shingle_hashes``); the mod-p fold to the
    <2³¹ operand range the affine products need happens here (numpy %
    matches Spark pmod: non-negative for negative int64 inputs), so
    signatures are identical to the previous reduce-at-source values."""
    a, b = _perm_params(num_perm, seed)
    a_arr = np.asarray(a, dtype=np.int64)
    b_arr = np.asarray(b, dtype=np.int64)
    for pdf in it:
        if not len(pdf):
            continue
        xs_list = [np.asarray(x, dtype=np.int64) for x in pdf["xs"]]
        lens = np.fromiter((len(x) for x in xs_list), dtype=np.int64, count=len(xs_list))
        flat = np.concatenate(xs_list) % MERSENNE_P31
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        n_docs = len(lens)
        sig_mat = np.empty((n_docs, num_perm), dtype=np.int64)
        for p in range(num_perm):
            # products stay < 2^62 (31-bit operands), no overflow
            vals = (a_arr[p] * flat + b_arr[p]) % MERSENNE_P31
            sig_mat[:, p] = np.minimum.reduceat(vals, offsets)
        yield pdf["doc_id"].to_numpy(np.int64), sig_mat


def _banded_keys_from_grouped(
    grouped: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, band, sig_csv): one row per doc per band, sig_csv = the
    band's signature values comma-joined in perm order — byte-identical
    to concat_ws(",", sigs sorted by perm) over the perm-level rows.

    Emitting bands directly from the signature kernel removes an entire
    shuffle from the LSH pipeline: the perm-level path exploded to
    num_perm rows/doc and re-grouped by (doc_id, band) just to
    re-assemble what the kernel already held as one matrix row."""
    rows_per_band = num_perm // bands

    def banded(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        band_idx = np.arange(bands, dtype=np.int32)
        for doc_ids, sig_mat in _batch_signature_matrices(it, num_perm, seed):
            n_docs = len(doc_ids)
            csv = [
                ",".join(map(str, sig_mat[d, b * rows_per_band : (b + 1) * rows_per_band]))
                for d in range(n_docs)
                for b in range(bands)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids, bands),
                    "band": np.tile(band_idx, n_docs),
                    "sig_csv": csv,
                }
            )

    return grouped.mapInPandas(banded, schema="doc_id long, band int, sig_csv string")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 4,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    base_hash: str = "xxhash64",
    max_band_df: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded MinHash signatures, then EXACT Jaccard
    verification — the approximate step only generates candidates, never
    final answers.

    One grouped hash-set table (doc_id, xs: array<long> of distinct
    shingle hashes) feeds BOTH the signature branch and the verify
    branch of the same DAG — a single int64 collect_set shuffle with
    map-side partial aggregation, instead of the three shuffles of the
    naive shape (explode+distinct of wide strings, collect_list for
    signatures, collect_set of strings for verify). The verify Jaccard
    is computed over the UNREDUCED 60/64-bit base-hash sets (the mod-p
    fold the permutations need happens inside the signature kernel,
    ADVICE r6): a within-pair collision (the only kind that could
    perturb a Jaccard value) has probability ~|union|²/2⁶⁰ ≈ 1e-12 per
    pair — and would surface as a d05 oracle mismatch, since the DuckDB
    oracle verifies over the raw shingle strings.
    The grouped table is persisted (memory+disk, spill-safe) so it
    computes once, the verified pairs are materialized EAGERLY at call
    time (localCheckpoint — they are tiny relative to the corpus), and
    the table is unpersisted before returning: repeated calls in one session (benchmark loops, the
    query suite) must not accumulate cached partitions until executor
    storage is exhausted.

    API contract note: CONSTRUCTION runs Spark jobs, and
    localCheckpoint'ed partitions are NOT fault-tolerant — on a real
    cluster, losing an executor after the call loses the result (no
    lineage to recompute from).

    ``base_hash='md5_60'`` makes the WHOLE pipeline cross-engine
    deterministic: md5-derived shingle hashes + an md5-of-sorted-sigs
    band key (instead of xxhash64 for both), so a DuckDB oracle can
    reproduce the final pair set value-for-value.

    ``max_band_df`` caps hot band buckets (VERDICT r4): a
    template-dominated corpus puts m near-identical docs in one bucket
    and the plain self-join emits m²/2 candidates; over the cap the
    bucket switches to linear star pairing against its min doc_id (see
    ``_banded_candidates`` for the exact recall trade). Default off —
    results are then identical to the uncapped pipeline."""
    from pyspark import StorageLevel

    raw = docs.select("doc_id", F.explode(shingle_array(n, "text")).alias("shingle"))
    grouped = _grouped_shingle_hashes(raw, base_hash=base_hash).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # band keys come straight out of the signature kernel (one row per
    # doc per band) — no explode to num_perm rows/doc + re-group. The
    # md5_60 key is md5 of the band's perm-ordered sig csv, exactly what
    # the previous sort_array(collect_list) path produced, so the DuckDB
    # oracle is unchanged; the production key hashes the same csv with
    # xxhash64 (band keys are internal bucket labels — only equality
    # within a band matters).
    bsigs = _banded_keys_from_grouped(grouped, num_perm=num_perm, bands=bands, seed=seed)
    band_key = F.md5("sig_csv") if base_hash == "md5_60" else F.xxhash64("sig_csv")
    # the band self-join references this table TWICE (both join sides
    # project different columns, so their exchanges are not reused) and
    # the hot-bucket cap a third time — without a checkpoint the
    # signature mapInPandas kernel and its whole upstream run once per
    # reference (guide §2.4/§5: materialize a small reused intermediate
    # instead of recomputing it). Lazy: the partitions are written by
    # the terminal localCheckpoint below, though under adaptive
    # execution this call already runs the shuffle stages of the
    # shingle/signature upstream as jobs. bands×docs rows of (id, band,
    # 8-byte key) — tiny relative to the corpus at any scale.
    banded = bsigs.select("doc_id", "band", band_key.alias("band_key")).localCheckpoint(
        eager=False
    )
    cand = _banded_candidates(banded, max_band_df)
    # exact verify per candidate pair via array_intersect on the two
    # docs' hash sets — O(candidates), not an inverted-index self-join
    # over the whole corpus (that shape is for all-pairs queries, see
    # ngram_jaccard_pairs); reuses the cached grouped table
    sa = grouped.select(F.col("doc_id").alias("doc_a"), F.col("xs").alias("sh_a"))
    sb = grouped.select(F.col("doc_id").alias("doc_b"), F.col("xs").alias("sh_b"))
    joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    out = (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint()
    )
    grouped.unpersist()
    return out


# -------------------------------------------------- connected components
def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node links its LARGER neighbors to the
    minimum of its closed neighborhood. Input/output edges are canonical
    (a > b); output stays canonical because m <= u < v for every emitted
    (v, m)."""
    adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        adj.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node links its SMALLER neighbors (and
    itself) to the minimum of that closed neighborhood. Input edges must
    be canonical (a > b, which large-star guarantees); output is
    canonical for the same reason."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    relink = (
        edges.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    selflink = mins.select(F.col("a"), F.col("m").alias("b"))
    return relink.unionByName(selflink).filter(F.col("a") != F.col("b")).distinct()


def _edge_signature(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent hash-sum) of an edge set — a one-job
    fixed-point probe with no join (the round-2 convergence check was a
    driver-blocking join+limit per round)."""
    # bit_xor: order-independent and overflow-free under ANSI mode
    # (sum(xxhash64) raises ARITHMETIC_OVERFLOW there)
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find_components(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-local union-find over a small canonical edge list (a, b):
    (node, component) with component = min original id — identical
    labels to the distributed alternating-star fixed point."""
    both = pd.concat([pdf["a"], pdf["b"]], ignore_index=True)
    codes, uniques = pd.factorize(both)
    n = len(uniques)
    parent = np.arange(n, dtype=np.int64)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]  # path halving
            i = parent[i]
        return i

    m = len(pdf)
    for i in range(m):
        ra, rb = find(codes[i]), find(codes[m + i])
        if ra != rb:
            parent[ra] = rb
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    nodes = pd.Series(uniques)
    comp = nodes.groupby(roots).transform("min")
    return pd.DataFrame({"node": nodes, "component": comp})


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 30,
    local_max_edges: int = 200_000,
) -> DataFrame:
    """(node, component): connected components of the near-dup pair
    graph — the step that turns PAIRS into DEDUP CLUSTERS (keep one doc
    per component). Component label = min node id, so results are
    deterministic and engine-independent.

    Graphs whose raw canonical pair list holds at most
    ``local_max_edges`` rows are solved with driver-local union-find
    instead — the size probe IS the collect
    (``limit(cap+1).toPandas()``, duplicate-tolerant), see the inline
    note; pass ``local_max_edges=0`` to force the distributed path.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round is two groupBy+join passes over the edge set and the edge set
    converges to per-component stars centered at the minimum node in
    O(log n) rounds REGARDLESS of component diameter. Round-2's
    min-label propagation needed O(diameter) rounds and silently
    returned split components when a chain-shaped near-dup graph (e.g.
    templated text) exceeded ``max_iter``; this version is depth-robust
    AND raises if the cap is ever hit rather than returning wrong
    labels. ``localCheckpoint`` truncates lineage each round (without
    it the plan doubles per iteration and the DAG scheduler, not the
    data, becomes the bottleneck); the fixed-point probe is a single
    count+hash aggregate, not a join.
    """
    # eager=False everywhere in this loop: the fixed-point probe's
    # aggregate is then the action that writes the checkpoint, so a
    # round has no separate materializing count. It is not one job per
    # round: under adaptive execution each localCheckpoint call runs
    # the round's shuffle stages as jobs before the probe does. Lineage
    # still truncates at the first action on the checkpointed frame,
    # which is always the probe immediately below.
    raw = pairs.select(
        F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
        F.least(F.col(id_a), F.col(id_b)).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    if local_max_edges > 0:
        # adaptive physical strategy, same philosophy as AQE's runtime
        # broadcast conversion: LSH dup graphs are tiny relative to
        # their corpus (edges ~ dup pairs, not docs). The size probe IS
        # the collect (r7): limit(cap+1) either returns the whole
        # canonical edge list (≤ cap ⇒ union-find it, one driver
        # round-trip instead of the previous signature-count + toPandas
        # pair) or proves the graph exceeds the cap and the distributed
        # path takes over. The probe runs on the UN-deduplicated list —
        # union-find is duplicate-tolerant, so the small path skips the
        # distinct's shuffle entirely; the cap therefore counts raw
        # pairs (a graph whose raw pair list exceeds the cap goes
        # distributed even if its distinct edge set would fit — the
        # conservative direction). Driver memory stays bounded by the
        # cap (~16 B/edge) either way; the alternating-star path below
        # is untouched for big graphs.
        head = raw.limit(local_max_edges + 1).toPandas()
        if len(head) == 0:
            return raw.select(
                F.col("a").alias("node"), F.col("b").alias("component")
            )
        if len(head) <= local_max_edges:
            out = _union_find_components(head)
            return raw.sparkSession.createDataFrame(
                out,
                schema="node {t}, component {t}".format(
                    t=raw.schema["a"].dataType.simpleString()
                ),
            )
    edges = raw.distinct().localCheckpoint(eager=False)
    sig = _edge_signature(edges)
    if sig[0] == 0:
        return edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig = _edge_signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — raise max_iter (the alternating-star algorithm needs "
            "O(log n) rounds, so hitting this cap indicates a pathological "
            "input, not normal depth)"
        )
    # fixed point = stars: every non-root node has exactly one edge to
    # its component's minimum id; roots label themselves
    return edges.select(F.col("a").alias("node"), F.col("b").alias("component")).unionByName(
        edges.select(F.col("b").alias("node"), F.col("b").alias("component")).distinct()
    )


def dedup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Per component: size + the doc to keep (min id) — the final dedup
    decision table from any near-dup pair source (Jaccard, MinHash,
    SimHash, cosine)."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("node").alias("keep_doc_id"),
        F.sort_array(F.collect_list("node")).alias("members"),
    )


# ------------------------------------------------------------------ SimHash
def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", token_hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per doc: token hashes aggregated JVM-side
    (collect_list after distinct-free explode), sign accumulation
    vectorized in one Arrow batch pass.

    ``token_hash='md5_60'`` swaps the per-token hash for the cross-engine
    md5-derived 60-bit hash (functions.hashing) so a DuckDB oracle can
    reproduce the fingerprints value-for-value; xxhash64 stays the
    production default."""
    from batch_geocode_spark.functions.hashing import hash60

    if token_hash == "xxhash64":
        h = F.xxhash64("tok")
    elif token_hash == "md5_60":
        h = hash60(F.col("tok"))
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    toks = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    th = docs.select("doc_id", toks).select("doc_id", h.alias("th"))
    grouped = th.groupBy("doc_id").agg(F.collect_list("th").alias("hashes"))

    def fp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        for pdf in it:
            if not len(pdf):
                continue
            # ragged-array formulation: one flat token-hash vector per
            # batch; per bit position a segmented popcount via
            # add.reduceat. Sign rule 2·ones > len ⟺ (2·ones − len) > 0,
            # identical to the per-doc accumulator loop.
            hs_list = [np.asarray(h, dtype=np.int64).view(np.uint64) for h in pdf["hashes"]]
            lens = np.fromiter((len(h) for h in hs_list), dtype=np.int64, count=len(hs_list))
            flat = np.concatenate(hs_list)
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sig = np.zeros(len(lens), dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat(
                    ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64), offsets
                )
                sig |= np.where(2 * ones > lens, weights[b], np.uint64(0))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": sig.astype(np.int64)}
            )

    return grouped.mapInPandas(fp, schema="doc_id long, simhash long")


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
    max_band_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via 16-bit band blocking
    (any equal quarter ⇒ candidate; exact hamming verify after)."""
    fps = simhash_fingerprints(docs, token_hash=token_hash)
    return simhash_band_pairs(fps, max_hamming=max_hamming, max_band_df=max_band_df)


def simhash_band_pairs(
    fps: DataFrame, max_hamming: int = 3, max_band_df: int | None = None
) -> DataFrame:
    """Band-blocked near-dup pairs over precomputed (doc_id, simhash).

    Quarter keys are extracted SIGN-SAFELY with bitwiseAND(0xFFFF) —
    Spark's ``%`` keeps the dividend's sign, so a modulo formulation
    gives negative fingerprints negative q0 keys and silently misses
    hamming≤3 pairs that differ in the sign bit (the pigeonhole
    guarantee needs bit-identical quarters to produce equal keys).

    ``max_band_df`` caps hot quarter-key buckets (VERDICT r4): identical
    fingerprints share ALL FOUR quarter keys, so a hot fingerprint
    family explodes every band join quadratically; over the cap a
    bucket switches to linear star pairing against its min doc_id
    (same mechanism and recall trade as ``minhash_lsh_pairs`` —
    see ``_banded_candidates``). Default off."""
    quarters = [
        (F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))).alias(
            f"q{i}"
        )
        for i in range(4)
    ]
    q = fps.select("doc_id", *quarters)
    banded = q.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"q{i}").alias("band_key")
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    cand = _banded_candidates(banded, max_band_df)
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
