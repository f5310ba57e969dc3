"""Dedup + similarity operators vs brute-force/pandas oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from batch_geocode_spark.operators import dedup as D
from batch_geocode_spark.operators import similarity as S

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa"]


def _corpus(n=80, seed=7):
    """Docs with planted near-duplicates: doc 3i+1 = doc 3i with one word
    changed; doc 3i+2 = unrelated."""
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n // 3):
        base = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 30)]
        near = list(base)
        near[15] = "CHANGED"
        other = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 30)]
        rows += [
            (3 * g, " ".join(base)),
            (3 * g + 1, " ".join(near)),
            (3 * g + 2, " ".join(other)),
        ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string").cache()


def _true_jaccard(pdf, n=4):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                out[(a, b)] = inter / (len(sets[a]) + len(sets[b]) - inter)
    return out


def test_exact_duplicates(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["x y", "x y", "z", "x y"]}
    )
    d = spark.createDataFrame(pdf)
    got = D.exact_duplicates(d).toPandas().sort_values("n_docs", ascending=False)
    assert got.iloc[0]["n_docs"] == 3 and got.iloc[0]["keep_doc_id"] == 0
    assert len(got) == 2


# Edge texts for the shingle kernel. F.trim strips only spaces, and
# Java's \s is ASCII-only, so a tab at either end leaves an empty
# token and a no-break space (U+00A0) joins two words into one.
_EDGE_TEXTS = [
    "",
    "   ",
    "\t a  b\n\nc \t",
    "one",
    " ".join(f"w{i}" for i in range(1, 11)),
    "  caf\u00e9  na\u00efve\u00a0d\u00e9j\u00e0 \U0001f600 \U0001f680x  ",
    "  lead and trail  ",
    None,
]


def _w_windows(n):
    return [" ".join(f"w{i}" for i in range(s, s + n)) for s in range(1, 12 - n)]


_NBSP_WORD = "na\u00efve\u00a0d\u00e9j\u00e0"
# shingle_array(n) over _EDGE_TEXTS, by n; a null text has no shingles
_EDGE_SHINGLES = {
    1: [[""], [""], ["", "a", "b", "c", ""], ["one"], _w_windows(1),
        ["caf\u00e9", _NBSP_WORD, "\U0001f600", "\U0001f680x"],
        ["lead", "and", "trail"], []],
    2: [[], [], [" a", "a b", "b c", "c "], [], _w_windows(2),
        [f"caf\u00e9 {_NBSP_WORD}", f"{_NBSP_WORD} \U0001f600",
         "\U0001f600 \U0001f680x"],
        ["lead and", "and trail"], []],
    4: [[], [], [" a b c", "a b c "], [], _w_windows(4),
        [f"caf\u00e9 {_NBSP_WORD} \U0001f600 \U0001f680x"], [], []],
    8: [[], [], [], [], _w_windows(8), [], [], []],
    13: [[]] * 8,
}


def test_shingle_array_edge_texts(spark):
    df = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "id int, text string")
    for n, want in _EDGE_SHINGLES.items():
        rows = df.select("id", D.shingle_array(n).alias("s")).orderBy("id").collect()
        assert [r["s"] for r in rows] == want, n


def test_shingle_array_splits_once():
    """The tokenizer appears once in the expression: inside the
    per-shingle lambda it would run once per shingle."""
    assert str(D.shingle_array(8)).count("split(") == 1


def test_ngram_jaccard_matches_bruteforce(docs):
    got = D.ngram_jaccard_pairs(docs, n=4, threshold=0.3).toPandas()
    truth = _true_jaccard(docs.toPandas())
    want = {k: v for k, v in truth.items() if v >= 0.3}
    got_pairs = {(r.doc_a, r.doc_b): r.jaccard for r in got.itertuples()}
    assert set(got_pairs) == set(want)
    for k in want:
        assert got_pairs[k] == pytest.approx(want[k], abs=1e-6)


def test_minhash_lsh_finds_planted_neardups(docs):
    got = D.minhash_lsh_pairs(docs, n=4, threshold=0.5).toPandas()
    pairs = {(r.doc_a, r.doc_b) for r in got.itertuples()}
    truth = _true_jaccard(docs.toPandas())
    planted = {k for k, v in truth.items() if v >= 0.6}  # well above band thresh
    assert planted, "fixture must plant near-dups"
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.9
    # verification step ⇒ no pair below the exact-jaccard threshold
    for r in got.itertuples():
        assert truth[(r.doc_a, r.doc_b)] >= 0.5 - 1e-9
        assert r.jaccard == pytest.approx(truth[(r.doc_a, r.doc_b)], abs=1e-6)


def test_simhash_identical_and_near(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "alpha beta gamma delta eps zeta eta theta " * 4,
                "alpha beta gamma delta eps zeta eta theta " * 4,  # identical
                "totally different words entirely unrelated content here now " * 4,
            ],
        }
    )
    d = spark.createDataFrame(pdf)
    fps = D.simhash_fingerprints(d).toPandas().set_index("doc_id")["simhash"]
    assert fps[0] == fps[1]
    assert bin((int(fps[0]) ^ int(fps[2])) & (2**64 - 1)).count("1") > 10
    pairs = D.simhash_near_dup_pairs(d, max_hamming=3).toPandas()
    assert (0, 1) in {(r.doc_a, r.doc_b) for r in pairs.itertuples()}


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16))
    rows = []
    for i in range(40):
        rows.append((i, base[i].astype(np.float32).tolist(), 0))
        # planted near-dup: tiny perturbation
        rows.append((100 + i, (base[i] + 0.01 * rng.standard_normal(16)).astype(np.float32).tolist(), 1))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_brute_force_topk_is_exact(vectors):
    got = S.brute_force_topk(vectors.limit(5), vectors, k=3).toPandas()
    pdf = vectors.toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid, grp in got.groupby("query_id"):
        qi = np.where(ids == qid)[0][0]
        sims = mat @ mat[qi]
        order = [
            ids[j]
            for j in sorted(range(len(ids)), key=lambda j: (-round(sims[j], 12), ids[j]))
            if ids[j] != qid
        ][:3]
        assert grp.sort_values("rank")["corpus_id"].tolist() == order


def test_ann_lsh_recall(vectors):
    exact = S.brute_force_topk(vectors, vectors, k=1).toPandas()
    approx = S.ann_lsh_topk(vectors, vectors, k=1, n_tables=8, bits=8).toPandas()
    e = exact.set_index("query_id")["corpus_id"]
    a = approx.set_index("query_id")["corpus_id"]
    common = e.index.intersection(a.index)
    recall = (e.loc[common] == a.loc[common]).mean()
    assert recall >= 0.9  # planted twins are trivially bucketable
    assert len(a) >= 0.9 * len(e)


def test_hyperplane_signatures_take_dim_from_the_data(vectors):
    """The hyperplanes are drawn at the width of the vectors (16 here):
    the buckets equal a numpy reference with planes of that width."""
    got = (
        S.hyperplane_signatures(vectors, n_tables=3, bits=5, seed=7)
        .toPandas()
        .sort_values(["table", "vec_id"])
        .reset_index(drop=True)
    )
    pdf = vectors.toPandas().sort_values("vec_id")
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    planes = np.random.default_rng(7).standard_normal((3, 5, 16))
    weights = 2 ** np.arange(5)
    want = pd.DataFrame(
        {
            "vec_id": np.tile(pdf["vec_id"].to_numpy(), 3),
            "table": np.repeat(np.arange(3), len(pdf)).astype(np.int32),
            "bucket": np.concatenate(
                [((mat @ planes[t].T > 0) * weights).sum(axis=1) for t in range(3)]
            ),
        }
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_cosine_near_dup_lsh_vs_exact(vectors, monkeypatch):
    exact = S.cosine_near_dup_pairs(vectors, threshold=0.99).toPandas()
    monkeypatch.setattr(S, "MAX_EXACT_VECS", 10)  # 80 vectors: the LSH path
    lsh = S.cosine_near_dup_pairs(vectors, threshold=0.99).toPandas()
    ep = {(r.id_a, r.id_b) for r in exact.itertuples()}
    lp = {(r.id_a, r.id_b) for r in lsh.itertuples()}
    assert ep, "fixture must contain near-dup pairs"
    assert lp <= ep  # LSH never invents pairs (exact verify)
    assert len(lp) >= 0.9 * len(ep)


def test_ivf_topk_recall(vectors):
    exact = S.brute_force_topk(vectors, vectors, k=1).toPandas()
    approx = S.ivf_topk(vectors, vectors, k=1, n_centroids=8, n_probe=3).toPandas()
    e = exact.set_index("query_id")["corpus_id"]
    a = approx.set_index("query_id")["corpus_id"]
    common = e.index.intersection(a.index)
    recall = (e.loc[common] == a.loc[common]).mean()
    assert recall >= 0.9  # planted twins land in the same inverted list
    assert len(a) >= 0.9 * len(e)


def test_simhash_band_pairs_opposite_sign(spark):
    """Regression (ADVICE r1): a hamming=1 pair differing only in the
    sign bit shares quarters q0..q2 bit-for-bit; the band keys must be
    extracted sign-safely (a sign-preserving % gave the negative
    fingerprint negative keys and silently missed the pair)."""
    a = 1
    b = int(np.int64(np.uint64(1) | (np.uint64(1) << np.uint64(63))))
    fps = spark.createDataFrame([(0, a), (1, b)], "doc_id long, simhash long")
    got = D.simhash_band_pairs(fps, max_hamming=3).toPandas()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in got.itertuples()] == [(0, 1, 1)]


def test_simhash_md5_60_token_hash(spark):
    """The cross-engine token hash produces stable fingerprints and the
    same identical-doc behavior as the xxhash64 default."""
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["alpha beta gamma", "alpha beta gamma", "x y z"]}
    )
    d = spark.createDataFrame(pdf)
    fps = D.simhash_fingerprints(d, token_hash="md5_60").toPandas().set_index("doc_id")
    assert fps.loc[0, "simhash"] == fps.loc[1, "simhash"]
    assert fps.loc[0, "simhash"] != fps.loc[2, "simhash"]
    # 60-bit token hashes -> bits 60..63 accumulate negative -> always 0
    assert all(int(v) >= 0 and int(v) < (1 << 60) for v in fps["simhash"])


def test_unknown_token_hash_is_a_named_error(spark):
    """Every operator with a token-hash option rejects an unknown kind
    by name when the plan is built."""
    from batch_geocode_spark.functions.hashing import token_hash
    from batch_geocode_spark.operators import sampling as SA
    from batch_geocode_spark.operators import text as T

    d = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    for build in (
        lambda: token_hash("text", "sha1"),
        lambda: D.simhash_fingerprints(d, token_hash="sha1"),
        lambda: T.fingerprints(d, token_hash="sha1"),
        lambda: SA.hash_sample(d, "doc_id", 0.5, token_hash="sha1"),
    ):
        with pytest.raises(ValueError, match="unknown token hash 'sha1'"):
            build()


def test_cosine_near_dup_auto_is_scale_safe(vectors, monkeypatch):
    """Strategy selection: above ``MAX_EXACT_VECS`` the plan must be the
    LSH bucket join (no full-corpus driver matrix); at or below it the
    exact matmul path (no join at all)."""
    auto_exact = S.cosine_near_dup_pairs(vectors, threshold=0.99)
    assert "Join" not in auto_exact._jdf.queryExecution().optimizedPlan().toString()
    monkeypatch.setattr(S, "MAX_EXACT_VECS", 10)
    auto_lsh = S.cosine_near_dup_pairs(vectors, threshold=0.99)
    assert "Join" in auto_lsh._jdf.queryExecution().optimizedPlan().toString()
    # the auto-LSH result stays faithful: subset of exact with recall>=0.9
    ep = {(r.id_a, r.id_b) for r in auto_exact.toPandas().itertuples()}
    lp = {(r.id_a, r.id_b) for r in auto_lsh.toPandas().itertuples()}
    assert ep and lp <= ep and len(lp) >= 0.9 * len(ep)


def test_connected_components_label_propagation(spark):
    """Chain + triangle + isolated pair: labels converge to the min id
    of each component (chain exercises multi-round propagation)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-2-3-4-5
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                           # pair
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    clusters = D.dedup_clusters(pairs).toPandas().set_index("component")
    assert clusters.loc[1, "n_docs"] == 5 and clusters.loc[1, "keep_doc_id"] == 1
    assert list(clusters.loc[10, "members"]) == [10, 11, 12]


def test_connected_components_deep_chain(spark):
    """A 120-deep chain (shuffled ids so the min label sits mid-chain)
    — min-label propagation capped at 25 rounds returned SPLIT
    components here; the alternating-star algorithm must return one
    correct component in O(log n) rounds."""
    import random

    rng = random.Random(7)
    ids = list(range(1000, 1121))
    rng.shuffle(ids)
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)],
        "doc_a long, doc_b long",
    )
    # distributed alternating-star path (forced) and the default
    # size-gated local union-find path must agree label-for-label
    got = D.connected_components(pairs, local_max_edges=0).toPandas()
    assert set(got["component"]) == {1000}
    assert set(got["node"]) == set(ids)
    loc = D.connected_components(pairs).toPandas()
    assert (
        dict(zip(loc["node"], loc["component"]))
        == dict(zip(got["node"], got["component"]))
    )
    # and a second, disjoint deep chain stays separate
    ids2 = list(range(5000, 5101))
    rng.shuffle(ids2)
    both = pairs.unionByName(
        spark.createDataFrame(
            [(ids2[i], ids2[i + 1]) for i in range(len(ids2) - 1)],
            "doc_a long, doc_b long",
        )
    )
    got2 = D.connected_components(both).toPandas()
    comp = dict(zip(got2["node"], got2["component"]))
    assert all(comp[i] == 1000 for i in ids) and all(comp[i] == 5000 for i in ids2)


def test_connected_components_raises_on_iteration_cap(spark):
    """The cap must RAISE, never return unconverged labels (round-2's
    silent-truncation bug)."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1, local_max_edges=0)


def test_connected_components_empty_and_self_pairs(spark):
    """Self-pairs are dropped; an empty pair set yields empty labels."""
    pairs = spark.createDataFrame([(7, 7), (3, 9)], "doc_a long, doc_b long")
    got = {r["node"]: r["component"] for r in D.connected_components(pairs).collect()}
    assert got == {3: 3, 9: 3}
    empty = pairs.filter("doc_a < 0")
    assert D.connected_components(empty).count() == 0


def test_hash_sample_deterministic_and_nested(spark):
    from batch_geocode_spark.operators import sampling as SA

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in SA.hash_sample(df, "doc_id", 0.10, salt="s").collect()}
    s10b = {r["doc_id"] for r in SA.hash_sample(
        df.repartition(7), "doc_id", 0.10, salt="s").collect()}
    assert s10 == s10b  # layout-independent
    s50 = {r["doc_id"] for r in SA.hash_sample(df, "doc_id", 0.50, salt="s").collect()}
    assert s10 <= s50  # same salt => nested
    assert 0.05 < len(s10) / 2000 < 0.15 and 0.45 < len(s50) / 2000 < 0.55
    other = {r["doc_id"] for r in SA.hash_sample(df, "doc_id", 0.10, salt="t").collect()}
    assert other != s10  # different salt decorrelates


def test_stratified_hash_sample_fractions(spark):
    from batch_geocode_spark.operators import sampling as SA

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = SA.stratified_hash_sample(
        df, "doc_id", "lang", {"fr": 1.0, "en": 0.1}, default_fraction=0.0
    ).toPandas()
    frac = out.groupby("lang").size()
    assert frac["fr"] == 1000                 # keep all rare-language rows
    assert 40 < frac.get("en", 0) < 200       # ~10% of the rest


def test_ann_recall_on_driver_tables(spark, sf_dir):
    """e03/e04 are the only rows-only driver queries (approximate by
    design). The driver embeddings are UNSTRUCTURED (intra-label sim ==
    inter-label sim ~= 0; nearest neighbors at cos ~0.36), which is the
    known worst case where top-k recall of any sublinear ANN is low —
    so this pins the contract ANN actually makes: a HIGH-similarity
    match (a perturbed twin of a corpus vector, cos > 0.99) is
    retrieved at rank 1 with recall >= 0.9 by both the LSH and IVF
    paths, with the exact e03/e04 parameters."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = emb.filter(F.col("vec_id") < 20).toPandas()
    rng = np.random.default_rng(17)
    rows = []
    for r in pdf.itertuples():
        v = np.asarray(r.embedding, dtype=np.float64)
        tw = v + 0.02 * rng.standard_normal(len(v)) * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((10_000 + r.vec_id, tw.astype(np.float32).tolist(), int(r.label)))
    queries = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def planted_recall(df):
        got = df[df["rank"] == 1].set_index("query_id")["corpus_id"]
        return np.mean([got.get(10_000 + q, -1) == q for q in pdf["vec_id"]])

    lsh = S.ann_lsh_topk(queries, emb, k=5, n_tables=8, bits=8).toPandas()
    ivf = S.ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4).toPandas()
    assert planted_recall(lsh) >= 0.9, "e03 params must retrieve cos>0.99 twins"
    assert planted_recall(ivf) >= 0.9, "e04 params must retrieve cos>0.99 twins"


def test_minhash_lsh_releases_shingle_cache(spark, docs):
    """ADVICE r2: the persisted shingle table must be unpersisted once
    the pairs are materialized — repeated calls in one session must not
    accumulate cached partitions."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()  # module fixtures hold their own caches
    for _ in range(2):
        out = D.minhash_lsh_pairs(docs, n=4, threshold=0.5)
        assert out.count() > 0
    assert cm.cachedData().size() == before


def test_cosine_near_dup_chooses_and_collects_in_one_job(spark, vectors):
    """The capped collect is both the size probe and the exact path's
    matrix: choosing the path and collecting costs one Spark job."""
    vectors.count()  # materialize the fixture cache outside the group
    sc = spark.sparkContext
    sc.setJobGroup("near-dup-choice", "cosine_near_dup_pairs construction")
    try:
        pairs = S.cosine_near_dup_pairs(vectors, threshold=0.99)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("near-dup-choice")) == 1
    assert "Join" not in pairs._jdf.queryExecution().optimizedPlan().toString()


def test_decontamination_flags(spark):
    """d09 operator: a corpus doc sharing ANY word n-gram with the eval
    set is flagged with the exact shared-shingle count; clean docs are
    absent. The eval side must be the broadcast build side."""
    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing text here"),   # contains the 8-gram
            (2, "totally unrelated content with no overlap at all ok"),
            (3, f"{leak} {leak}"),                           # multiple hits
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, f"prefix {leak} suffix"), (101, f"also {leak} here")],
        "doc_id long, text string",
    )
    df = D.decontamination_flags(corpus, eval_docs, n=8)
    got = df.toPandas().set_index("doc_id")
    assert set(got.index) == {1, 3}
    assert got.loc[1, "n_shared_shingles"] == 1
    assert got.loc[1, "n_eval_docs"] == 2  # the 8-gram occurs in both
    assert got.loc[3, "n_shared_shingles"] >= 1
    assert "broadcast" in df._jdf.queryExecution().optimizedPlan().toString().lower()


def test_semantic_decontamination(spark):
    """e06 operator: a corpus vector planted near an eval vector is
    flagged with its max similarity; orthogonal vectors are not. Eval
    side must broadcast."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.05   # cos ≈ 0.999
    ortho = rng.standard_normal(16)
    ortho -= ortho @ base / (base @ base) * base   # ⊥ base ⇒ cos ≈ 0
    rows = [
        (1, [float(x) for x in near]),
        (2, [float(x) for x in ortho]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    eval_vecs = spark.createDataFrame(
        [(100, [float(x) for x in base])], "vec_id long, embedding array<float>"
    )
    df = S.semantic_decontamination(corpus, eval_vecs, threshold=0.9)
    got = df.toPandas().set_index("corpus_id")
    assert set(got.index) == {1}
    assert got.loc[1, "n_eval_hits"] == 1
    assert got.loc[1, "max_sim"] > 0.99
    # the JVM fallback path must keep the eval side broadcast
    jvm = S.semantic_decontamination(corpus, eval_vecs, threshold=0.9, vectorized=False)
    assert "broadcast" in jvm._jdf.queryExecution().optimizedPlan().toString().lower()


def test_semantic_decontamination_vectorized_bitwise_matches_jvm(spark):
    """r7: the vectorized kernel accumulates per dimension, so every
    double (max_sim pre-round included) must be BIT-EQUAL to the
    zip_with/aggregate JVM formulation — compare unrounded outputs on
    random data with a threshold low enough to emit many rows."""
    import numpy as np

    rng = np.random.default_rng(17)
    mk = lambda n, off: [  # noqa: E731
        (off + i, [float(x) for x in rng.standard_normal(24).astype(np.float32)])
        for i in range(n)
    ]
    corpus = spark.createDataFrame(mk(60, 0), "vec_id long, embedding array<float>")
    ev = spark.createDataFrame(mk(9, 1000), "vec_id long, embedding array<float>")
    a = (
        S.semantic_decontamination(corpus, ev, threshold=0.05)
        .toPandas().sort_values("corpus_id").reset_index(drop=True)
    )
    b = (
        S.semantic_decontamination(corpus, ev, threshold=0.05, vectorized=False)
        .toPandas().sort_values("corpus_id").reset_index(drop=True)
    )
    assert len(a) > 10
    assert a["corpus_id"].tolist() == b["corpus_id"].tolist()
    assert a["n_eval_hits"].tolist() == b["n_eval_hits"].tolist()
    # bitwise double equality, not approx
    assert [x.hex() for x in a["max_sim"]] == [x.hex() for x in b["max_sim"]]


def test_semantic_decontamination_eval_cap(spark, monkeypatch):
    """An eval set larger than ``MAX_EVAL_VECS`` fails loudly at call
    time, with the cap and the pre-blocking remedy in the message,
    instead of being collected to the driver."""
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    monkeypatch.setattr(S, "MAX_EVAL_VECS", 3)
    with pytest.raises(ValueError, match=r"more than 3 rows.*hyperplane_signatures"):
        S.semantic_decontamination(vecs, vecs, threshold=0.9)
    # the JVM reference path collects nothing, so the cap does not apply
    assert S.semantic_decontamination(vecs, vecs, threshold=0.9, vectorized=False).count() == 5


# ------------------------------------------------- hot-band caps (VERDICT r4)
def test_minhash_hot_band_cap_bounds_template_corpus(spark):
    """A 10k-copy template corpus (the boilerplate-crawl common case)
    must emit O(m) candidates under ``max_band_df``, not m²/2 (~5·10^7
    uncapped — infeasible even at test scale, which is itself the
    evidence the cap binds): star pairing links every copy to the hub
    (min doc_id) exactly once and clustering reunites the family."""
    m = 10000
    text = (
        "the same boilerplate template text repeated across the whole "
        "crawl corpus every single time without any variation at all"
    )
    pdf = pd.DataFrame({"doc_id": np.arange(m, dtype=np.int64), "text": [text] * m})
    docs = spark.createDataFrame(pdf, "doc_id long, text string").repartition(8)
    pairs = D.minhash_lsh_pairs(docs, n=4, threshold=0.5, max_band_df=64)
    got = pairs.toPandas()
    assert len(got) == m - 1
    assert (got["doc_a"] == 0).all()
    assert (got["jaccard"] == 1.0).all()
    clusters = D.dedup_clusters(pairs).toPandas()
    assert len(clusters) == 1
    assert clusters.iloc[0]["n_docs"] == m
    assert clusters.iloc[0]["keep_doc_id"] == 0


def test_minhash_hot_band_cap_preserves_cold_pairs(spark, docs):
    """Cold buckets are untouched by the cap: a combined corpus (base
    fixture + a 500-copy template family at offset ids) under the cap
    yields exactly the uncapped pair set among base ids, plus the
    star-shaped family."""
    base = _corpus()
    tmpl = pd.DataFrame(
        {
            "doc_id": np.arange(100000, 100500, dtype=np.int64),
            "text": ["hot template family body text repeated verbatim " * 4] * 500,
        }
    )
    both = spark.createDataFrame(
        pd.concat([base, tmpl], ignore_index=True), "doc_id long, text string"
    )
    capped = D.minhash_lsh_pairs(both, n=4, threshold=0.5, max_band_df=32).toPandas()
    uncapped_base = D.minhash_lsh_pairs(docs, n=4, threshold=0.5).toPandas()
    base_capped = {
        (a, b) for a, b in zip(capped["doc_a"], capped["doc_b"]) if b < 100000
    }
    assert base_capped == {(r.doc_a, r.doc_b) for r in uncapped_base.itertuples()}
    fam = capped[capped["doc_b"] >= 100000]
    assert len(fam) == 499
    assert (fam["doc_a"] == 100000).all()


def test_simhash_band_cap_bounds_hot_fingerprint(spark):
    """Identical fingerprints share all four quarter keys — a 5000-copy
    family would emit ~12.5M candidates uncapped; the cap reduces it to
    one star (m-1 pairs, hamming 0) while a cold 2-doc bucket still
    pairs normally. Negative fingerprint exercises the sign-safe
    quarter keys."""
    m = 5000
    rows = [(int(i), -123456789) for i in range(m)] + [(90000, 7), (90001, 7)]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = D.simhash_band_pairs(fps, max_hamming=3, max_band_df=64).toPandas()
    fam = got[got["doc_b"] < 90000]
    assert len(fam) == m - 1
    assert (fam["doc_a"] == 0).all()
    assert (fam["hamming"] == 0).all()
    assert (90000, 90001) in set(zip(got["doc_a"], got["doc_b"]))


# ------------------------------------- ANN verification summary (VERDICT r4)
def test_ann_verification_summary_all_green(vectors):
    """The e03/e04 oracle shape: a CORRECT approximate result (here the
    LSH ANN itself) passes every invariant — k rows per query, exact
    cosine recompute matches, ranks consistent, per-rank cosine bounded
    by brute force, recall over the bar."""
    queries = vectors.filter(F.col("vec_id") < 5)
    ann = S.ann_lsh_topk(queries, vectors, k=3, n_tables=8, bits=6)
    cand = S.lsh_candidates(queries, vectors, n_tables=8, bits=6)
    got = S.ann_verification_summary(
        ann, queries, vectors, k=3, min_recall=0.3, candidates=cand
    ).toPandas()
    assert list(got["query_id"]) == [0, 1, 2, 3, 4]
    assert (got["n_emitted"] == 3).all()
    assert (got["n_cos_verified"] == 3).all()
    assert got["ranks_ok"].all()
    assert got["bounded_ok"].all()
    assert got["recall_ok"].all()
    assert got["cand_sound_ok"].all()


def test_ann_verification_summary_catches_corruption(vectors):
    """Tampered cosines / broken ranking must flip the verification
    columns — the oracle is a real gate, not decoration."""
    queries = vectors.filter(F.col("vec_id") < 3)
    ann = S.brute_force_topk(queries, vectors, k=3)
    bad_cos = ann.withColumn("cos_sim", F.col("cos_sim") + F.lit(0.01))
    got = S.ann_verification_summary(bad_cos, queries, vectors, k=3).toPandas()
    assert (got["n_cos_verified"] == 0).all()
    assert not got["bounded_ok"].any()
    bad_rank = ann.withColumn("rank", F.lit(4) - F.col("rank"))
    got2 = S.ann_verification_summary(bad_rank, queries, vectors, k=3).toPandas()
    assert not got2["ranks_ok"].any()


def test_ivf_index_build_then_query_matches_oneshot(spark, tmp_path_factory):
    """build_ivf_index + ivf_topk_from_index must reproduce ivf_topk
    exactly (same seed/params): the persisted index — inverted lists in
    snapshot data, centroids in the manifest — is just the one-shot
    pipeline split at its natural build/serve seam."""
    from batch_geocode_spark.operators import similarity as S
    from batch_geocode_spark.snapshots import SnapshotTable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    table = SnapshotTable(str(tmp_path_factory.mktemp("ivf_idx")))
    snap = S.build_ivf_index(emb, table, n_centroids=16, seed=42)
    assert snap["total_rows"] == emb.count()

    got = (
        S.ivf_topk_from_index(spark, table, queries, emb, k=5, n_probe=4)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = (
        S.ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4, seed=42)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)
    # and serving from a table with no committed index is a loud error
    empty = SnapshotTable(str(tmp_path_factory.mktemp("ivf_empty")))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed IVF index"):
        S.ivf_topk_from_index(spark, empty, queries, emb)


def test_ivf_index_crash_resume_converges(spark, tmp_path_factory):
    """A build killed after its first commit group resumes with the
    same job_id (deterministic quantizer retrains identically,
    committed buckets are skipped) and the recovered index serves the
    exact same results as an uninterrupted build."""
    from batch_geocode_spark.operators import similarity as S
    from batch_geocode_spark.snapshots import SnapshotTable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5")

    crashy = SnapshotTable(str(tmp_path_factory.mktemp("ivf_crashy")))
    with pytest.raises(RuntimeError, match="injected failure"):
        S.build_ivf_index(
            emb, crashy, job_id="j1", n_buckets=8, group_size=2,
            fail_after_groups=1,
        )
    snap = S.build_ivf_index(emb, crashy, job_id="j1", n_buckets=8, group_size=2)
    assert snap["total_rows"] == emb.count()

    clean = SnapshotTable(str(tmp_path_factory.mktemp("ivf_clean")))
    S.build_ivf_index(emb, clean, n_buckets=8, group_size=2)
    got = (
        S.ivf_topk_from_index(spark, crashy, queries, emb, k=3, n_probe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = (
        S.ivf_topk_from_index(spark, clean, queries, emb, k=3, n_probe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)
