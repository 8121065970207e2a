"""Named query registry — the engine's public query surface.

Every operator family from SURVEY.md §2 ships as one or more named queries.
Each entry pairs a Spark DataFrame implementation with (where SQL can
express it) an equivalent ANSI-SQL oracle string that DuckDB runs over the
same parquet fixtures; the driver hash-compares the two at sf 0.01.

Conventions (critical for oracle parity):
- every computed/aggregate column is aliased identically on both sides;
- double-typed aggregates are rounded (sum→2dp, avg/ratio→4dp) so the two
  engines' different summation orders cannot flip the value hash;
- timestamps compare bit-for-bit because the session timezone is UTC;
- result sets either carry a unique key or are closed under permutation
  (the driver's value hash is order-insensitive).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a named query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _manifest_through_round(root: str | None = None) -> int | None:
    """The max CORRECTNESS round the committed ROTATION.json consumed.

    The driver drops CORRECTNESS_r{N}.json AFTER the builder's final
    commit of round N, so a manifest regenerated during round N can never
    have seen it — any query that flips to verified in that artifact
    would redden the committed manifest test (VERDICT r10 item 1).
    Recording the consumed horizon in the manifest makes the derivation
    reproducible: both _driver_verified() and the manifest test ignore
    artifacts from rounds the manifest never claimed to consume.  The
    next regeneration (round start) advances the horizon explicitly.
    """
    import json
    import os

    path = os.path.join(root or _repo_root(), "ROTATION.json")
    try:
        with open(path) as f:
            tr = json.load(f).get("through_round")
        return int(tr) if tr is not None else None
    except (OSError, ValueError, TypeError):
        return None


def _driver_verified(
    root: str | None = None, through_round: int | None = None
) -> set[str]:
    """Names with a satisfied driver-correctness row in a consumed round.

    The driver only compares the FIRST 50 registry entries per round, so
    load_all() orders never-driver-checked queries first and rotates
    already-verified ones to the back — each round extends driver
    coverage to a fresh 50 until every query has a CORRECTNESS row.
    Verified = a green hash row, or a recorded rows-only check
    (err == 'no_oracle' — the strongest check those queries can get) for a
    query that STILL has no oracle.  A query upgraded from rows-only to
    oracled after its no_oracle row was recorded is NOT verified — it
    returns to the front so the driver hash-checks the new oracle.  A red
    row (like r1's agg_conditional) stays in the front so its fix is
    re-checked.

    Only CORRECTNESS_r{1..through_round}.json are consumed (default: the
    horizon recorded in ROTATION.json; None = all).  This keeps the
    committed manifest valid even after the driver drops a newer round's
    artifact post-commit — see _manifest_through_round.
    """
    import glob
    import json
    import os
    import re

    root = root or _repo_root()
    if through_round is None:
        through_round = _manifest_through_round(root)
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m and through_round is not None and int(m.group(1)) > through_round:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            spec = REGISTRY.get(name)
            rows_only_ok = row.get("err") == "no_oracle" and (
                spec is None or spec.oracle is None
            )
            if rows_only_ok or (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                seen.add(name)
    return seen


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registry population).

    Returned dict order = driver check order: the fixed agg_conditional
    first (red in r1), then never-driver-checked queries grouped by module
    priority (LLM-pipeline surface first), then queries the driver already
    verified green. Within a module, decorator (source) order is kept.
    """
    # Import order here is the intra-round priority for the driver's
    # first-50 correctness window.
    from .operators import (  # noqa: F401
        aggregates,
        dedup,
        dq,
        similarity,
        text,
        multimodal,
        sampling,
        udfs,
        scalar_fns,
        events,
        layout,
        reshape,
        subqueries,
        tpch_extra,
        relational,
        windows,
        joins,
        setops,
    )

    verified = _driver_verified()
    # Pinned into the driver's first-50 window regardless of module
    # position (until verified): past red rows' fixes, and queries added
    # whose home module sits past the window.
    pins = [
        n
        for n in ("agg_conditional", "q4_order_priority")
        if n in REGISTRY and n not in verified
    ]
    front = [n for n in REGISTRY if n not in verified and n not in pins]
    back = [n for n in REGISTRY if n in verified]
    return {n: REGISTRY[n] for n in (*pins, *front, *back)}
