"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ftp_blueprints_spark/ and self-register into
plans.registry; this module just re-exports the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Importing these modules registers every query + oracle pair, in this
# order (registration order is the queries() tie-break). Plain imports on
# purpose: a module that fails to import fails the contract loudly
# instead of silently dropping its queries.
from ftp_blueprints_spark.plans import relational  # noqa: F401,E402
from ftp_blueprints_spark.plans.registry import ORACLES, QUERIES  # noqa: E402
from ftp_blueprints_spark.plans import manifest_queries  # noqa: F401,E402
from ftp_blueprints_spark.operators import dedup  # noqa: F401,E402
from ftp_blueprints_spark.operators import similarity  # noqa: F401,E402
from ftp_blueprints_spark.plans import text_queries  # noqa: F401,E402
from ftp_blueprints_spark.operators import multimodal  # noqa: F401,E402
from ftp_blueprints_spark.streaming import events as _streaming_events  # noqa: F401,E402
from ftp_blueprints_spark.plans import udf_queries  # noqa: F401,E402
from ftp_blueprints_spark.operators import sketches  # noqa: F401,E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver records correctness rows in queries() order and caps the file
# at 50 rows per round.  From round 5 on, the window is STALENESS-DRIVEN and
# self-maintaining: each query's rank is the last round it appears in a
# CORRECTNESS_r{N}.json on disk (never-checked -> first), so whatever the
# driver checks this round automatically rotates to the back next round.
# Two explicit boosts on top:
#   rank -2 — queries whose oracle was added/upgraded THIS round (listed
#             below): their first hash-check beats re-verification;
#   rank  0/1 — the _STALE_BOOST remap keeps r3-era evidence ahead of r2-era
#             (r3 was checked under the since-fixed NTZ session).
# Brand-new queries rank -1 and displace the stale tail; displaced stale
# queries rotate to the front of the NEXT round's window via the same math —
# which is why new registrations are capped (~8/round): each one delays a
# stale-evidence refresh by a round.
# Round 14 (r13 VERDICT tasks 1+2): the first-hash set stays empty (no
# oracle upgrades this round).  The r13 registration queue goes live —
# sim_ivfpq_retrain and sim_lsh_retrain get their decorators (both
# built + locally oracle-proven + scale-probed in r13; the oracles
# replay the monolithic train / two-width re-hash, so the driver
# checks prove retrain-with-the-exact-corpus equals train-from-scratch
# for the compressed family and pin the width-adaptive re-hash
# arithmetic for the hashed family — build → append → drift → retrain
# is now driver-evidenced across ALL THREE index families).  New
# registrations capped at those 2, so the 50-slot window takes the two
# rank -1 rows plus all 20 r10-stale rows plus 28 of the 50 r11-stale
# rows (nothing older than r11 evidence should remain after round 14).
# Round 15 (r14 VERDICT task 1): the r14 registration queue goes live —
# sim_ivf_cadence and sim_lsh_cadence get their decorators (both built
# + locally oracle-proven + scale-probed in r14: the retrain-cadence
# triggers' EXACT-integer arithmetic as driver surfaces, tied to
# ivf_retrain_due / lsh_retrain_due by the cadence tie tests).  New
# registrations capped at those 2, so the 50-slot window takes the two
# rank -1 rows plus all ~22 r11-stale rows plus ~26 of the r12-stale
# rows.
_FIRST_HASH_CHECK_THIS_ROUND: set[str] = set()
# Pre-r4 evidence ranks: treat "checked in r3" as MORE urgent than r2 —
# the r3 window was checked under the broken NTZ session.  (The r6-era
# `4: 10` demotion — r4 was then the freshest evidence — is retired: from
# r7 on, natural round ordering r2 < r4 < r5 < r6 is correct.  Simulated
# window for r7: 4 first-hash + all 15 r2-stale + 31 r4 = 50.)
_STALE_BOOST = {3: 0, 2: 1}


def _last_checked() -> dict[str, int]:
    """Map query name -> last round with driver correctness evidence."""
    import glob as _glob
    import json as _json
    import re as _re

    last: dict[str, int] = {}
    for path in _glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


_LAST_CHECKED = _last_checked()


def _rank(name: str) -> int:
    if name in _FIRST_HASH_CHECK_THIS_ROUND:
        return -2
    if name not in _LAST_CHECKED:
        return -1  # brand-new query: first driver evidence beats rotation
    rnd = _LAST_CHECKED[name]
    return _STALE_BOOST.get(rnd, rnd)


def _ordered(names: list[str]) -> list[str]:
    order = {n: i for i, n in enumerate(names)}  # registration order tiebreak
    return sorted(names, key=lambda n: (_rank(n), order[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL ops)."""
    return {n: ORACLES[n] for n in _ordered(list(QUERIES)) if n in ORACLES}
