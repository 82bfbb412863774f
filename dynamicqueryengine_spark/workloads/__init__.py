from .analytics import ANALYTICS_QUERIES
from .lakehouse import LAKEHOUSE_QUERIES
from .llm import LLM_QUERIES
from .reference import REFERENCE_QUERIES, TESTDATA_SCHEMAS
from .temporal import TEMPORAL_QUERIES
from .trends import TREND_QUERIES

_MERGED = {
    **REFERENCE_QUERIES,
    **ANALYTICS_QUERIES,
    **TEMPORAL_QUERIES,
    **TREND_QUERIES,
    **LLM_QUERIES,
    **LAKEHOUSE_QUERIES,
}

# Standing freshness-rotation policy (adopted round 4, per r3 verdict ask #2).
#
# The round driver records correctness evidence for only the FIRST 50 entries
# of `queries()`, and /root/testdata regenerates between rounds, so driver
# evidence goes stale. Instead of a hand-picked list, the window is DERIVED
# from the accumulated CORRECTNESS_r*.json evidence files at import time:
#
#   1. queries whose most recent driver check was RED (any of rows/schema/
#      hash false, or err) — regressions re-verify first;
#   2. queries NEVER driver-checked in any round (newly added operators land
#      here automatically);
#   3. everything else ordered by oldest green evidence first (ties broken
#      by name for determinism).
#
# Twice-green "canaries" need no reserved slots: the oldest-evidence-first
# rule re-checks every query on a rotating cadence by construction — the
# tail of the window is exactly the longest-unverified green queries.
# If no evidence files are present (e.g. the package is imported outside
# the graded repo), every query is "never checked" and the order falls back
# to name order — deterministic and safe.
# All 130 queries stay covered locally every round by
# scripts/check_correctness.py regardless of window position.


def _driver_evidence():
    """Map query name -> (last_checked_round, last_green_round or None)."""
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[2]
    evidence = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        match = re.search(r"_r(\d+)\.json$", path.name)
        if not match:
            continue
        rnd = int(match.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            green = (
                isinstance(rec, dict)
                and bool(rec.get("rows_match"))
                and bool(rec.get("schema_match"))
                and bool(rec.get("hash_match"))
                and not rec.get("err")
            )
            checked, last_green = evidence.get(name, (None, None))
            if checked is None or rnd > checked:
                checked = rnd
            if green and (last_green is None or rnd > last_green):
                last_green = rnd
            evidence[name] = (checked, last_green)
    return evidence


def _window_order(names, evidence):
    """Order query names per the freshness-rotation policy above."""

    def key(name):
        checked, last_green = evidence.get(name, (None, None))
        if checked is not None and (last_green is None or last_green < checked):
            return (0, 0, name)  # most recent driver check was red
        if checked is None:
            return (1, 0, name)  # never driver-checked
        return (2, last_green, name)  # green: oldest evidence first

    return sorted(names, key=key)


_ORDER = _window_order(_MERGED, _driver_evidence())
ALL_QUERIES = {n: _MERGED[n] for n in _ORDER}

__all__ = [
    "ALL_QUERIES",
    "ANALYTICS_QUERIES",
    "LLM_QUERIES",
    "REFERENCE_QUERIES",
    "TEMPORAL_QUERIES",
    "TESTDATA_SCHEMAS",
]
