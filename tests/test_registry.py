"""The query registry (``__spark_entry__``): its key order, its oracle
texts, the views its builds leave behind, and the bench surface that
reads it.

``registry_pin.json`` holds the registry as it stood before the queries
became table rows: ``queries()`` names in order and the sha256 of every
``oracle_sql()`` text.  The driver snapshots the first 50 names and
compares each oracle text with its previous run, so a change to either
must be deliberate: update the pin in the same change and say why.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import __spark_entry__ as em

PIN = json.loads((Path(__file__).parent / "registry_pin.json").read_text())
SF_SMOKE = "/root/testdata/sf0.001"


def test_queries_order_is_pinned():
    assert list(em.queries()) == PIN["queries"]


def test_oracle_texts_are_pinned():
    oracles = em.oracle_sql()
    assert set(oracles) == set(PIN["queries"])
    got = {name: hashlib.sha256(text.encode()).hexdigest()
           for name, text in oracles.items()}
    changed = sorted(n for n in got if got[n] != PIN["oracle_sha256"][n])
    assert not changed, changed


def test_page_builds_register_no_views(spark):
    """entry() and the page-based rows read the synthesized page tables
    inline: building them leaves the session with exactly the views
    _register creates."""
    s = spark.newSession()
    em.entry(s)
    for name, build in em.queries().items():
        if name.startswith(("webpages_", "geoparse_")):
            build(s, SF_SMOKE)
    views = sorted(t.name for t in s.catalog.listTables() if t.isTemporary)
    assert views == sorted(em.TABLES)


def test_bench_leaves_are_registered_queries():
    """bench.py times registered builds, not copies of them; only its
    GK geoparse prefix has no registered query."""
    import bench
    registered = set(em.queries())
    assert len(bench.BENCH_QUERIES) == 17
    assert {n for n in bench.BENCH_QUERIES.values()
            if n not in registered} == {"geoparse_gk"}
