"""Golden pins for the two near-dup methods that have no DuckDB oracle.

MinHash banding and SimHash are xxhash64-based, so no SQL twin computes
their output. These pins hash the FULL result of each self-join on the
smoke-scale ``documents`` table — every row, in output order, with the
estimated Jaccard — so a refactor of the pair-generation body that
shifts a single candidate, a rounding, or the sort order fails here,
independently of the delta≡self-join pins (which compare the operator
with itself).

The digests were recorded from the release whose self-join and delta
probe were still separate bodies; regenerate them only for a deliberate
change of the operators' output.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from eea_crawler_spark.operators import dedup as DD
from eea_crawler_spark.sources.tables import load_table

GOLDEN_SF = "sf0.001"


def _digest(df) -> tuple[int, str]:
    rows = [repr(tuple(r)) for r in df.collect()]
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    if os.path.basename(os.path.normpath(sf_dir)) != GOLDEN_SF:
        pytest.skip("golden digests are recorded for the sf0.001 documents")
    return load_table(spark, sf_dir, "documents")


def test_minhash_lsh_pairs_golden(docs):
    got = _digest(DD.minhash_lsh_pairs(docs, threshold=0.8))
    assert got == (MINHASH_ROWS, MINHASH_SHA256)


def test_simhash_pairs_golden(docs):
    got = _digest(DD.simhash_pairs(docs))
    assert got == (SIMHASH_ROWS, SIMHASH_SHA256)


MINHASH_ROWS = 28
MINHASH_SHA256 = (
    "501967eb698ddc8652cd92b54a04fc3a79b58c9d8e9c4a907747d88a9b53e015"
)
SIMHASH_ROWS = 335
SIMHASH_SHA256 = (
    "795d7fb6f3dd24076fe4b3974a9035c05e70d32ae37c3ab60f5a324fdc692558"
)
