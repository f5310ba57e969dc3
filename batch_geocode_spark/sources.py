"""Input connectors beyond bare parquet (SURVEY.md §2.1 S1).

The reference ingests user CSV/Excel files of unknown encoding by
sweeping candidate encodings until one reads (reference:
geocode/utilities.py:170-197 ``read_to_pandas``). The engine analog
keeps the sweep as a cheap DRIVER-SIDE PRE-FLIGHT over a bounded byte
sample — never a full-file decode — then hands the winning charset to
the distributed reader (``spark.read.option('encoding', ...)``), so the
actual parse is executor-side and scales with splits.

Divergence from the reference (deliberate): the reference keeps the
*last* encoding that succeeds in its sweep, which makes latin-1 (which
accepts any byte string) shadow utf-8. Here the FIRST success wins and
utf-8 is tried first, so utf-8 data is identified as utf-8.
"""

from __future__ import annotations

import codecs
import glob
import os

from pyspark.sql import DataFrame, SparkSession

# order matters: strict multi-byte encodings first, byte-transparent
# fallbacks (latin-1 accepts anything) last. The default candidates are
# exactly the charsets Spark's distributed CSV reader supports
# (CSVOptions: us-ascii, utf-8, utf-16*, utf-32, iso-8859-1) — cp1252
# and friends would detect fine but be unreadable downstream.
DEFAULT_ENCODINGS = [
    "utf-8",
    "utf-16",
    "utf-16-le",
    "utf-16-be",
    "utf-32",
    "latin-1",
]

# python codec name -> Spark CSVOptions charset name
_SPARK_CHARSET = {
    "latin-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "utf-16-le": "utf-16le",
    "utf-16-be": "utf-16be",
    "ascii": "us-ascii",
}


def _sample_file(path: str) -> str:
    """A concrete file to sample: the path itself, or the first CSV
    inside a directory / glob (Spark accepts all three forms)."""
    if os.path.isfile(path):
        return path
    if os.path.isdir(path):
        names = sorted(
            n for n in os.listdir(path) if n.endswith(".csv") and not n.startswith(("_", "."))
        )
        if names:
            return os.path.join(path, names[0])
        raise FileNotFoundError(f"no .csv files under {path}")
    matches = sorted(glob.glob(path))
    if matches:
        return matches[0]
    raise FileNotFoundError(path)


def detect_csv_encoding(
    path: str,
    encodings: list[str] | None = None,
    sample_bytes: int = 1 << 20,
) -> str:
    """First encoding from ``encodings`` that cleanly decodes a byte
    sample of the file. Uses an incremental decoder with final=False so
    a multi-byte character truncated by the sample boundary does not
    disqualify an otherwise-valid encoding."""
    encodings = encodings or DEFAULT_ENCODINGS
    with open(_sample_file(path), "rb") as f:
        raw = f.read(sample_bytes)
    has_u16_bom = raw[:2] in (b"\xff\xfe", b"\xfe\xff")
    for enc in encodings:
        # utf-16 decoders accept ANY even-length byte string, which
        # would shadow the single-byte encodings — only consider them
        # when the file actually announces itself with a BOM
        if enc.lower().startswith(("utf-16", "utf_16")) and not has_u16_bom:
            continue
        dec = codecs.getincrementaldecoder(enc)(errors="strict")
        try:
            dec.decode(raw, final=False)
            return enc
        except (UnicodeDecodeError, UnicodeError):
            continue
    raise UnicodeDecodeError(
        "all", raw[:32], 0, 1, f"no candidate encoding decodes {path}"
    )


def read_csv_bytes(
    spark: SparkSession,
    data: bytes,
    schema: str | None = None,
    **read_csv_kwargs,
) -> tuple[DataFrame, str]:
    """Uploaded-stream ingest (reference utilities.py:131-150: browser
    FileStorage bytes → StringIO → pandas): decode with the same
    encoding sweep, parse on the driver, hand off as a DataFrame.
    Driver-side BY DESIGN — an uploaded file is one user's browser
    payload, bounded by the upload, never a distributed input."""
    import io

    has_u16_bom = data[:2] in (b"\xff\xfe", b"\xfe\xff")
    text = enc = None
    for cand in DEFAULT_ENCODINGS:
        if cand.lower().startswith(("utf-16", "utf_16")) and not has_u16_bom:
            continue
        try:
            text, enc = data.decode(cand), cand
            break
        except (UnicodeDecodeError, UnicodeError):
            continue
    if text is None:
        raise UnicodeDecodeError("all", data[:32], 0, 1, "no candidate encoding decodes upload")
    import pandas as pd

    pdf = pd.read_csv(io.StringIO(text), **read_csv_kwargs)
    df = (
        spark.createDataFrame(pdf, schema=schema)
        if schema is not None
        else spark.createDataFrame(pdf)
    )
    return df, enc


def read_csv_with_encoding_sweep(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    **options,
) -> tuple[DataFrame, str]:
    """(DataFrame, encoding): pre-flight the charset on a sample, then
    distributed CSV read (with a header row) with an explicit schema
    (schema inference is a full extra pass at scale — callers should
    pass one)."""
    enc = detect_csv_encoding(path)
    charset = _SPARK_CHARSET.get(enc.lower(), enc)
    reader = spark.read.option("encoding", charset).option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path), enc
