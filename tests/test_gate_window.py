"""The correctness gate (``queries()`` on Spark against ``oracle_sql()`` on
DuckDB) snapshots only the first 50 catalog entries.
This pins that window — the (name, sha256(oracle SQL)) rows of the first
50 ``queries()`` names — so a change that reorders the catalog or alters
an oracle's SQL text inside the window fails here, without any testdata.
The whole-catalog counts are pinned too: 80 queries, 80 oracles, and
every oracle names a query."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry

# sha256 over "name\tsha256(oracle_sql[name])\n" for the first 50 names
GATE_WINDOW_DIGEST = (
    "33d6cda6403c754cc3314f2d7799c7bc994a1f69a16ace3707800aa4822cbe61"
)


def _rows(names, oracles):
    return "".join(
        f"{n}\t{hashlib.sha256(oracles[n].encode()).hexdigest()}\n"
        for n in names
    )


def test_catalog_and_oracle_counts():
    queries, oracles = entry.queries(), entry.oracle_sql()
    assert len(queries) == 80
    assert len(oracles) == 80
    assert set(oracles) <= set(queries)


def test_gate_window_digest():
    names = list(entry.queries())[:50]
    rows = _rows(names, entry.oracle_sql())
    assert hashlib.sha256(rows.encode()).hexdigest() == GATE_WINDOW_DIGEST
