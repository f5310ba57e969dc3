"""CSV ingest with encoding sweep (SURVEY S1; reference
utilities.py:170-197): driver-side charset pre-flight on a byte sample,
distributed read with the winning encoding."""

import pytest

from batch_geocode_spark import sources

ROWS = [("1", "café"), ("2", "naïve"), ("3", "Ævar")]
HEADER = "id,name"


def _write(path, encoding):
    with open(path, "w", encoding=encoding, newline="\n") as f:
        f.write(HEADER + "\n")
        for r in ROWS:
            f.write(",".join(r) + "\n")


def test_detect_utf8_before_latin1(tmp_path):
    p = str(tmp_path / "u8.csv")
    _write(p, "utf-8")
    # utf-8 bytes also decode under latin-1; the sweep must pick utf-8
    assert sources.detect_csv_encoding(p) == "utf-8"


def test_detect_latin1_family(tmp_path):
    p = str(tmp_path / "l1.csv")
    _write(p, "latin-1")
    enc = sources.detect_csv_encoding(p)
    # é/ï/Æ occupy the same code points in cp1252 and latin-1; either
    # answer decodes the file correctly, utf-8 must be rejected
    assert enc == "latin-1"


def test_detect_utf16_bom(tmp_path):
    p = str(tmp_path / "u16.csv")
    _write(p, "utf-16")
    assert sources.detect_csv_encoding(p).startswith("utf-16")


def test_detect_truncated_multibyte_sample(tmp_path):
    """A sample boundary that cuts a multi-byte char must not disqualify
    utf-8 (incremental decoder, final=False)."""
    p = str(tmp_path / "cut.csv")
    _write(p, "utf-8")
    size = len(open(p, "rb").read())
    # end the sample mid-'é' (2 bytes in utf-8): find its offset
    raw = open(p, "rb").read()
    cut = raw.index("café".encode("utf-8")) + 4  # inside the é sequence
    assert sources.detect_csv_encoding(p, sample_bytes=cut) == "utf-8"
    assert cut < size


@pytest.mark.parametrize("encoding", ["utf-8", "latin-1"])
def test_read_csv_values_exact(spark, tmp_path, encoding):
    p = str(tmp_path / f"{encoding}.csv")
    _write(p, encoding)
    df, enc = sources.read_csv_with_encoding_sweep(
        spark, p, schema="id int, name string"
    )
    got = {r["id"]: r["name"] for r in df.collect()}
    assert got == {1: "café", 2: "naïve", 3: "Ævar"}


def test_read_csv_directory_form(spark, tmp_path):
    d = tmp_path / "csvdir"
    d.mkdir()
    _write(str(d / "part-0.csv"), "utf-8")
    df, enc = sources.read_csv_with_encoding_sweep(
        spark, str(d), schema="id int, name string"
    )
    assert enc == "utf-8"
    assert df.count() == 3


def test_no_encoding_fits_raises(tmp_path):
    p = str(tmp_path / "junk.csv")
    with open(p, "wb") as f:
        f.write(b"\xff\xfe\xff\x00\x01junk\x81\x8d")
    with pytest.raises(UnicodeDecodeError):
        sources.detect_csv_encoding(p, encodings=["utf-8", "ascii"])


def test_read_csv_bytes_upload(spark):
    """Uploaded-stream analog (S3): raw latin-1 bytes → sweep → DataFrame."""
    data = ("id,name\n1,café\n2,naïve\n").encode("latin-1")
    df, enc = sources.read_csv_bytes(spark, data, schema="id long, name string")
    assert enc == "latin-1"
    got = {r["id"]: r["name"] for r in df.collect()}
    assert got == {1: "café", 2: "naïve"}
