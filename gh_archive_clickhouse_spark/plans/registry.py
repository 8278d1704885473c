"""Assembles the declared query registry (SURVEY.md §2.5 + §2.6).

Order matters operationally: the round driver verifies the first
~:data:`WINDOW` oracle-checkable entries in enumeration order, so a
query's official correctness row goes stale unless the ordering
rotates it back into the window every few rounds.

Through round 7 the 50-entry head was a hand-maintained list rebuilt
every round (and it went stale twice before the tripwire test
existed).  It is now COMPUTED from the committed driver artifacts:

  1. queries whose CODE CHANGED this round (:data:`_CHANGED` — the
     one remaining manual input; an existing green row describes old
     code, i.e. is effectively no row);
  2. every other query, stalest first — staleness is the freshest
     round in which a committed ``CORRECTNESS_r*.json`` recorded the
     query, so never-verified (new) queries sort before everything
     else, then the oldest rows, LRU-style, until the window is full.

Landing a new driver artifact therefore rotates the window by itself:
commit ``CORRECTNESS_r{N}.json`` and the head recomputes for round
N+1 with no registry edit.  The only per-round maintenance is
refreshing :data:`_CHANGED` (+ :data:`_CHANGED_ROUND`) to the queries
whose code the round touched — and even that input EXPIRES by itself:
a changed pin is dropped once the query has a recorded row from round
``>= _CHANGED_ROUND``, i.e. once the driver has verified the changed
code, so a round that adds no code needs no registry edit at all.
tests/test_registry_rotation.py still enforces the staleness budget
structurally (and additionally simulates future rounds to prove the
auto-rotation keeps the budget with no edits).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from gh_archive_clickhouse_spark.plans import (
    events_queries,
    ext_queries,
    relational_queries,
    streaming_queries,
    tpch2_queries,
    tpch3_queries,
    tpch_queries,
)
from gh_archive_clickhouse_spark.plans.common import Query

# The driver verifies "the first ~50" entries; build for exactly 50.
WINDOW = 50

# Code changed in round _CHANGED_ROUND (existing green rows describe
# older code, i.e. are effectively no rows — so these pin to the front
# of the window until a driver row from _CHANGED_ROUND or later lands
# for them, at which point the pin expires per query automatically).
_CHANGED_ROUND = 17
# These builders (or the operators and sinks they run) changed in r16
# after its oracle rows were taken, or run the MinHash-LSH operators
# that are now built from SQL text (operators/dedup.py), so only a row
# from r17 on verifies them. The staleness budget
# (tests/test_registry_rotation.py) has room for one more pin this
# round: qx20, the only query on the char-shingle path. qx8, qx9, qx26,
# qx31, qx37, qx43, qx50, qx56 and qx57 also run the rewritten code
# but rotate in by staleness. The shared LSH verify step
# (operators/dedup.verify_candidates) reaches qx9, qx20, qx26, qx31,
# qx42, qx43, qx56 and qx57; qx20 and qx42 are pinned, and the budget
# has no room for more: pinning qx57 alone leaves qt32's row older
# than the budget after the next round. The epoch tables
# (streaming/dedup_stream.EpochTable) also reach qs7, qs10 and qs11,
# which rotate in by staleness: pinning qs11 alone breaks the budget.
_CHANGED = (
    "qx52_bpe_encode",
    "qx42_preprocess_pipeline",
    "qx32_semantic_dedup",
    "qx35_pq_adc_topk",
    "qx51_bpe_vocab_build",
    "qx28_mixture_weights",
    "qx60_mixture_resample",
    "qs4_stream_incremental_lsh",
    "qs13_stream_dedup_survivors",
    "qs14_stream_mixture_gate",
    "qs15_stream_preprocess_pipeline",
    "qx20_chargram_jaccard",
)

# Canonical declaration order: used as the deterministic tie-break
# among equally-stale queries and as the tail ordering.
_MODULES = (
    ext_queries,
    streaming_queries,
    events_queries,
    relational_queries,
    tpch_queries,
    tpch2_queries,
    tpch3_queries,
)

_BY_NAME: dict[str, Query] = {
    q.name: q for mod in _MODULES for q in mod.QUERIES
}
_DECLARED: tuple[str, ...] = tuple(
    q.name for mod in _MODULES for q in mod.QUERIES
)

if len(_BY_NAME) != len(_DECLARED):  # pragma: no cover - sanity
    raise AssertionError("duplicate query names in registry")


def recorded_rounds(repo_root: Path | None = None) -> dict[int, set[str]]:
    """Query names per committed driver round, parsed from
    ``CORRECTNESS_r*.json`` at the repo root (the artifacts the round
    driver drops after verifying the window).  The ONE parser of the
    artifact format — tests/test_registry_rotation.py reuses it, so
    the shipped head and the tests that audit it can never read the
    artifacts through diverging parsers.  Absent artifacts (e.g. a
    worker-side package copy without the repo checkout) return {},
    which degrades every query to "never verified" and only changes
    ordering."""
    root = repo_root or Path(__file__).resolve().parents[2]
    rounds: dict[int, set[str]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:  # pragma: no cover - glob already constrains
            continue
        try:
            data = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):  # pragma: no cover
            continue
        qs = data.get("queries", data) if isinstance(data, dict) else data
        names = (
            set(qs.keys())
            if isinstance(qs, dict)
            else {q["name"] for q in qs}
        )
        rnd = int(m.group(1))
        rounds[rnd] = rounds.get(rnd, set()) | names
    return rounds


def recorded_freshness(repo_root: Path | None = None) -> dict[str, int]:
    """Freshest committed driver round per query name (see
    :func:`recorded_rounds` for the artifact parse and the
    absent-artifact degradation)."""
    freshest: dict[str, int] = {}
    for rnd, names in recorded_rounds(repo_root).items():
        for n in names:
            freshest[n] = max(freshest.get(n, 0), rnd)
    return freshest


def compute_head(
    changed: tuple[str, ...],
    freshest: dict[str, int],
    window: int = WINDOW,
    declared: tuple[str, ...] = _DECLARED,
) -> list[str]:
    """The driver-window ordering: ``changed`` first (strict — a
    misspelled entry raises rather than silently falling out of the
    window), then every other query stalest-first (never-verified
    sorts as round 0), declaration order breaking ties."""
    unknown = [n for n in changed if n not in _BY_NAME]
    if unknown:
        raise KeyError(f"unknown queries in changed list: {unknown}")
    head = list(dict.fromkeys(changed))
    if len(head) > window:
        raise AssertionError(
            f"changed list ({len(head)} queries) exceeds the "
            f"{window}-entry driver window — entries past the window "
            f"would keep stale rows standing in for changed code"
        )
    taken = set(head)
    index = {n: i for i, n in enumerate(declared)}
    rest = sorted(
        (n for n in declared if n not in taken),
        key=lambda n: (freshest.get(n, 0), index[n]),
    )
    head += rest[: max(0, window - len(head))]
    # Capacity guard: only meaningful when artifacts were readable —
    # with none (worker-side package copy without the repo checkout)
    # EVERY query is "never verified" and the ordering merely
    # degrades, exactly as recorded_rounds documents.
    if freshest:
        never = [n for n in declared if freshest.get(n, 0) == 0]
        missing = [n for n in never if n not in head]
        if missing:
            raise AssertionError(
                f"changed list so long it pushes never-verified "
                f"queries out of the {window}-entry window: {missing}"
            )
    return head


def active_changed(
    changed: tuple[str, ...],
    changed_round: int,
    freshest: dict[str, int],
) -> tuple[str, ...]:
    """The subset of ``changed`` whose pin is still live: a pin exists
    because the query's recorded rows predate the code change, so it
    expires the moment a row from ``changed_round`` or later lands —
    per query, since a narrow driver window might verify only some."""
    return tuple(
        n for n in changed if freshest.get(n, 0) < changed_round
    )


_FRESHEST = recorded_freshness()
_HEAD = compute_head(
    active_changed(_CHANGED, _CHANGED_ROUND, _FRESHEST), _FRESHEST
)

_HEAD_SET = set(_HEAD)
_ALL: list[Query] = [
    *[_BY_NAME[n] for n in _HEAD],
    *[q for mod in _MODULES for q in mod.QUERIES if q.name not in _HEAD_SET],
]

QUERIES: dict[str, Query] = {q.name: q for q in _ALL}

if len(QUERIES) != len(_ALL):  # pragma: no cover - registry sanity
    raise AssertionError("duplicate query names in registry")


def get_queries() -> dict[str, Query]:
    return QUERIES
