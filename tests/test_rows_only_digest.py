"""Output pin for the contract entries that have no DuckDB oracle.

``test_entry_contract`` can only check these entries' row counts.  Here
each one's rows are canonicalised as the driver's oracle comparison does
(``driver_sim.canon_rows``) and hashed; the sha256 must equal the value in
``fixtures/rows_only_digests.json`` at sf0.001 under two
``spark.sql.shuffle.partitions`` settings, so a kernel edit that changes
any value, or a result that depends on the partition count, fails here.
"""

import hashlib
import json
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from driver_sim import canon_rows

SF = "/root/testdata/sf0.001"
DIGESTS = json.loads(
    (Path(__file__).parent.parent / "fixtures" / "rows_only_digests.json").read_text()
)


def test_fixture_covers_every_rows_only_entry():
    rows_only = set(entrymod.queries()) - set(entrymod.oracle_sql())
    assert rows_only == set(DIGESTS)


@pytest.mark.parametrize("partitions", ["4", "7"])
@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_rows_only_entry_digest(spark, name, partitions):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        rows = canon_rows(entrymod.queries()[name](spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == DIGESTS[name]
