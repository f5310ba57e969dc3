"""The DuckDB oracles are the correctness reference for every query, so
refactors must leave them byte-identical. Spark-free: no session."""

import hashlib
import json

from batch_geocode_spark import entry_queries as EQ

ORACLES_SHA256 = "af7323da6d236443fe8d2ed851a79b80be23e8f7ed91cde55d37f6421bd147f6"


def test_oracles_byte_identical():
    blob = json.dumps(EQ.ORACLES, sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLES_SHA256
