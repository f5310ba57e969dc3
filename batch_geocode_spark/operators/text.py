"""Text-analysis operators for a training-data pipeline over the
``documents`` table: language ID, quality scoring, token counting,
document fingerprinting. All pure Column expressions (JVM-side,
whole-stage codegen) — no UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "en", "que", "los"],
    "fr": ["le", "la", "de", "et", "en", "que", "les"],
    "de": ["der", "die", "das", "und", "in", "zu", "den"],
    "zh": ["的", "是", "在", "了", "和", "有", "我"],
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def _tokens(text_col):
    return F.split(F.trim(text_col), r"\s+")


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex pieces + chars per doc."""
    toks = _tokens(F.col(text_col))
    pieces = F.regexp_count(F.col(text_col), F.lit(TOKEN_REGEX))
    return docs.select(
        "doc_id",
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        pieces.alias("n_pieces"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, mean token length, stopword
    ratio, type-token ratio, symbol ratio — the usual pre-training
    filters (C4/Gopher-style rules), each a Column expression."""
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    symbols = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    mean_tok_len = (F.length(F.col(text_col)) - n_tok + 1) / n_tok
    ttr = F.size(F.array_distinct(toks)) / n_tok
    score = (
        F.when(n_tok < 5, 0.0)
        .when(mean_tok_len > 12.0, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                0.5 * ttr + 0.5 * (1.0 - symbols / F.greatest(F.length(text_col), F.lit(1))),
            )
        )
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop / n_tok, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: score = matching stopword count per
    language, argmax via greatest/struct-max trick — stays JVM-side."""
    toks = _tokens(F.lower(F.col(text_col)))

    def _match(words):
        # single-arg lambda: a second (defaulted) parameter would make
        # PySpark pass the element index into it
        return lambda t: t.isin(*words)

    scored = [
        F.struct(
            F.size(F.filter(toks, _match(words))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in LANG_PROFILES.items()
    ]
    best = F.greatest(*scored) if len(scored) > 1 else scored[0]
    return docs.select(
        "doc_id",
        best["lang"].alias("lang_pred"),
        best["score"].alias("lang_score"),
        F.when(best["score"] >= 1, best["lang"]).otherwise(F.lit("und")).alias("lang_final"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style intra-document repetition signals — the standard
    pre-training filters t02's surface features don't cover:

    - ``dup_line_frac``: fraction of non-empty lines that are repeats
      of an earlier line (1 - distinct/total),
    - ``dup_line_char_frac``: fraction of line characters belonging to
      lines occurring ≥ 2 times (all occurrences counted),
    - ``top_bigram_frac``: occurrences of the most frequent word
      2-gram over all 2-grams.

    Scale shape: ZERO shuffle — every signal is a Column expression
    over per-row arrays (whole-stage codegen). Duplicate detection
    sorts the array once (O(L log L)) and run-length-scans it with
    ``aggregate``, instead of the explode → groupBy(doc, line) plan
    that would shuffle the full corpus text at 100 TB.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    zl = F.lit(0).cast("long")
    # chars in duplicated lines: sorted-array run-length scan. State =
    # (prev line, current run length, accumulated dup chars); a run
    # flushes into acc when the line changes, the finish lambda flushes
    # the final run. Lines are non-empty, so prev='' marks "no prev".
    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(F.lit("").alias("prev"), zl.alias("run"), zl.alias("acc")),
        lambda st, l: F.struct(
            l.alias("prev"),
            F.when(l == st["prev"], st["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            (
                st["acc"]
                + F.when(
                    (l != st["prev"]) & (st["run"] >= 2),
                    st["run"] * F.length(st["prev"]),
                ).otherwise(zl)
            ).alias("acc"),
        ),
        lambda st: st["acc"]
        + F.when(st["run"] >= 2, st["run"] * F.length(st["prev"])).otherwise(zl),
    )
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_bg = F.greatest(n_tok - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_bg),
        F.slice(toks, 2, n_bg),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # most-frequent-bigram count: same sorted run-length scan, max run
    max_bg = F.aggregate(
        F.array_sort(bigrams),
        F.struct(F.lit("").alias("prev"), zl.alias("run"), zl.alias("mx")),
        lambda st, b: F.struct(
            b.alias("prev"),
            F.when(b == st["prev"], st["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                st["mx"],
                F.when(b == st["prev"], st["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
        ),
        lambda st: st["mx"],
    )
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round(
            F.when(n_lines > 0, (n_lines - n_distinct) / n_lines).otherwise(0.0), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(total_chars > 0, dup_chars / total_chars).otherwise(0.0), 6
        ).alias("dup_line_char_frac"),
        F.round(
            F.when(n_bg > 0, max_bg / n_bg).otherwise(0.0), 6
        ).alias("top_bigram_frac"),
    )


def fingerprints(
    docs: DataFrame, text_col: str = "text", token_hash: str = "xxhash64"
) -> DataFrame:
    """Document fingerprints: normalized-text hash (whitespace-collapsed
    lowercase md5) + a polynomial rolling hash of the token stream
    (order-sensitive, computed via aggregate() — still no UDF).

    ``token_hash='md5_60'`` uses the cross-engine md5-derived hash
    (functions.hashing) so DuckDB can reproduce the rolling hash
    value-for-value; xxhash64 stays the production default."""
    from batch_geocode_spark.functions.hashing import hash60

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = _tokens(F.col(text_col))
    # rolling hash: h = (h * 31 + hash(tok) mod p) mod p, p = 2^31-1
    p = (1 << 31) - 1
    if token_hash == "xxhash64":
        tok_h = F.xxhash64
    elif token_hash == "md5_60":
        tok_h = hash60
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 31 + F.pmod(tok_h(t), F.lit(p)), F.lit(p)),
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        rolling.alias("rolling_hash"),
    )


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's OWN
    unigram distribution — the classic perplexity-proxy quality filter
    (docs full of rare garbage tokens score low, fluent text scores
    high) that sits next to ``quality_scores`` in a pre-training
    pipeline. Returns (doc_id, n_tokens, avg_logprob).

    Scale shape (the two-pass vocabulary pattern): pass 1 explodes the
    corpus into a map-side-combined (doc, token, count) aggregate and
    reduces it to the vocab-scale frequency table; pass 2 re-explodes
    and joins that table, scoring each doc with the count-weighted mean
    (algebraically identical to averaging over raw token instances).
    The grand token total — ONE number — is collected at call time and
    folded in as a literal, so the plan has exactly two corpus passes
    and zero cross joins; construction therefore runs Spark jobs. No
    UDFs; log runs JVM-side."""

    def per_doc_counts() -> DataFrame:
        toks = docs.select(id_col, F.explode(_tokens(F.col(text_col))).alias("tok"))
        return toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))

    # lazy checkpoint + the total collect as its materializing action:
    # pass 1 runs exactly once and the scoring action reads the
    # (vocab-scale) checkpointed table instead of re-exploding
    freq = (
        per_doc_counts()
        .groupBy("tok")
        .agg(F.sum("cnt").alias("tf"))
        .localCheckpoint(eager=False)
    )
    # an empty corpus sums to null; its join below is empty, so any
    # positive total will do
    total = freq.agg(F.sum("tf")).collect()[0][0] or 1
    logp = F.log(F.col("tf") / F.lit(float(total)))
    return per_doc_counts().join(freq, "tok").groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.round(F.sum(F.col("cnt") * logp) / F.sum("cnt"), 6).alias("avg_logprob"),
    )
