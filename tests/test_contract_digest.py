"""Contract pin: one sha256 over the ``queries()`` names in contract order
and one over the 204 ``oracle_sql()`` texts in key order.

A refactor of the contract module, or of anything it calls, must leave
both unchanged: a query renamed, added, dropped or reordered moves the
first, and any byte of any oracle text moves the second.
"""

import hashlib

import __spark_entry__ as entrymod

QUERIES_SHA256 = "0b6a6b54aca38e814a949a95c659d1e14b7b98a1257c8ab0119a14e0c182fa9f"
ORACLES_SHA256 = "c06f8b90dc10675e3e98815504eaeb7550d759e6157c1767c54bc91e6e1a890d"


def test_queries_digest():
    names = list(entrymod.queries())
    assert len(names) == 216
    assert hashlib.sha256(repr(names).encode()).hexdigest() == QUERIES_SHA256


def test_oracle_sql_digest():
    oracles = sorted(entrymod.oracle_sql().items())
    assert len(oracles) == 204
    assert (
        hashlib.sha256(repr(oracles).encode()).hexdigest() == ORACLES_SHA256
    )
