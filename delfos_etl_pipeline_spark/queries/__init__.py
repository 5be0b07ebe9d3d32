"""Oracle-paired query registry — the driver-checkable operator inventory.

Each entry implements one operator family from SURVEY.md §2 as an idiomatic
Spark DataFrame plan over the driver testdata (TESTDATA.md), with an ANSI
SQL twin that DuckDB runs on the same parquet for differential testing
(SURVEY.md §5 strategy 1). Alias discipline (R2) is load-bearing: the
driver hash-matches on column names, so every computed column is aliased
identically in both the Spark plan and the oracle SQL.

Float discipline: aggregates whose accumulation order is nondeterministic
(sums/averages over large groups) are rounded to a fixed number of decimals
in BOTH implementations so last-ulp differences cannot flip the hash.

Split into per-family modules in round 4 (the monolith passed 5,800
lines); importing this package imports every family in a FIXED order, so
registration order is unchanged and explicit below. queries() and
oracle_sql() return the registry in correctness-window order, computed by
window_order() from the CORRECTNESS_r*.json records at the repo root.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

from delfos_etl_pipeline_spark.queries._registry import (  # noqa: F401
    LAZY_ORACLE,
    ORACLE,
    QUERIES,
    query,
)

# Family modules register their queries at import time; this order IS the
# registry order (and therefore the tie order of the correctness window).
from delfos_etl_pipeline_spark.queries import (  # noqa: E402,F401
    scans_core,
    joins_reshape,
    windows_olap,
    tpch,
    olap_extra,
    sampling,
    dedup,
    similarity,
    text_basic,
    curation,
    multimodal,
    asof,
    text_quality,
    warehouse,
)

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _records() -> dict[int, dict[str, dict]]:
    """{round: {query name: result row}} from the repo's CORRECTNESS_r*.json;
    empty when there are none (e.g. the package installed elsewhere)."""
    records = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = _RECORD.search(path)
        if m:
            with open(path) as f:
                records[int(m.group(1))] = json.load(f)
    return records


def window_order(
    names: Iterable[str],
    oracled: set[str],
    records: Mapping[int, Mapping[str, Mapping]],
) -> list[str]:
    """Order names so the driver's front-of-registry correctness window
    re-checks the stalest evidence first: oracled names whose newest
    record row is not hash-green (or that were never checked), then
    oracled names by the round of their newest hash-green row, oldest
    first; names without an oracle last. Ties keep the input order.
    Record names outside `names` are ignored. No records → input order."""
    names = list(names)
    if not records:
        return names
    newest: dict[str, tuple[int, bool]] = {}
    for rnd in sorted(records):
        for n, row in records[rnd].items():
            newest[n] = (rnd, row.get("hash_match") is True)

    def key(n: str) -> tuple[bool, int]:
        rnd, green = newest.get(n, (-1, False))
        return (n not in oracled, rnd if green else -1)

    return sorted(names, key=key)


def _order() -> list[str]:
    return window_order(
        QUERIES, set(ORACLE) | set(LAZY_ORACLE), _records()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _order()}


def oracle_sql() -> dict[str, str]:
    # Resolve deferred oracles once (generated VALUES tables etc.);
    # cached into ORACLE so repeat calls are free.
    for n, thunk in list(LAZY_ORACLE.items()):
        if n not in ORACLE:
            ORACLE[n] = thunk()
    return {n: ORACLE[n] for n in _order() if n in ORACLE}
