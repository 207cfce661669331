"""Query registry — the single source of truth behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus (whenever SQL-expressible) a DuckDB
oracle SQL string computing the identical result on the identical tables.
The driver's correctness harness compares the two by row count + schema +
order-insensitive value hash, so registered pairs MUST:

* alias every computed column identically on both sides;
* round floating-point outputs identically on both sides (summation order
  differs between engines — see ``round`` helpers in functions/);
* break every ranking/limit tie with a unique key (order-insensitive hashing
  still needs a deterministic row SET).

The driver verifies only the first ~50 names ``queries()`` returns each
round, so the order is derived from its own ``CORRECTNESS_r*.json`` files:
names without a green latest row first, then ``_CHANGED_THIS_ROUND``, then
everyone else least recently verified first. Each round's driver rows move
the names it verified to the back, so coverage tiles across rounds by
itself; nothing needs to remember past strides, the round number or the
driver's cap.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-facing query, optionally with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


#: Queries whose semantics or physical plan this round rewrote: they need a
#: fresh driver row even though an earlier round verified them.
_CHANGED_THIS_ROUND: list[str] = [
    # RESET each round (VERDICT r5 item #3): stale entries burn re-confirm
    # slots at the head of the rotation.
]


def _row_is_green(row: Any) -> bool:
    """A driver CORRECTNESS row counts as verified only when it is GREEN:
    rows + schema + value-hash all matched and no error was recorded.

    VERDICT r8 item #2: the previous implementation unioned every key in
    every CORRECTNESS file regardless of status, so a query whose oracle
    err'd (e.g. the r8 DuckDB OOM burst) was treated as verified and fell
    into the md5-rotated re-confirmation bucket — up to ~⌈N/50⌉ rounds
    from a retry. Err'd / mismatched rows must re-enter priority bucket 1
    automatically, which this predicate ensures.
    """
    if not isinstance(row, dict):
        return False
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and not row.get("err")
    )


#: Where the driver writes ``CORRECTNESS_r{N}.json``; tests point it at a
#: tmpdir to simulate driver rounds.
_HISTORY_ROOT = Path(__file__).resolve().parent.parent


@dataclass
class Verification:
    """One name's driver rows: how many, first and last green round, and
    whether the latest row is green."""

    rows: int = 0
    first_green: int | None = None
    last_green: int | None = None
    latest_green: bool = False


def driver_history() -> tuple[int, dict[str, Verification]]:
    """``(newest driver round, name -> Verification)`` over every
    driver-written ``CORRECTNESS_r*.json`` — the only reader of that format.

    Only rows the DRIVER recorded count: local pytest oracle checks do not
    register here. Files are read in round order, so a later row (green or
    not) supersedes any earlier one for the same name."""
    rounds = sorted(
        (int(m.group(1)), p)
        for p in _HISTORY_ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    )
    hist: dict[str, Verification] = {}
    for rnd, path in rounds:
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            v = hist.setdefault(name, Verification())
            v.rows += 1
            v.latest_green = _row_is_green(row)
            if v.latest_green:
                v.last_green = rnd
                if v.first_green is None:
                    v.first_green = rnd
    return (rounds[-1][0] if rounds else 0), hist


def _driver_verified_names() -> set[str]:
    """Names whose LATEST driver-written CORRECTNESS row is green."""
    return {n for n, v in driver_history()[1].items() if v.latest_green}


def _round_token() -> int:
    """The upcoming round number: 1 + the newest driver round on disk."""
    return driver_history()[0] + 1


def verification_order(names: list[str] | None = None) -> list[str]:
    """Driver-verification priority over registered query names: never
    verified or non-green latest row (registration order), then
    ``_CHANGED_THIS_ROUND``, then the rest by last green round, oldest
    first (the stable sort keeps registration order among ties)."""
    if names is None:
        _ensure_loaded()
        names = list(_QUERIES)
    hist = driver_history()[1]
    verified = {n for n, v in hist.items() if v.latest_green}
    never = [n for n in names if n not in verified]
    changed = [n for n in _CHANGED_THIS_ROUND if n in names and n in verified]
    head = {*never, *changed}
    rest = sorted(
        (n for n in names if n not in head), key=lambda n: hist[n].last_green
    )
    return never + changed + rest


def _ordered(d: dict[str, Any]) -> dict[str, Any]:
    order = verification_order(list(d))
    return {n: d[n] for n in order}


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return _ordered(_ORACLES)


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module exactly once so registrations run."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        clustering,
        dedup,
        events,
        formats,
        graph,
        incremental,
        io_roundtrips,
        joins,
        llm_prep,
        merge,
        multimodal,
        normalize,
        pq,
        profiling,
        sampling,
        scalars,
        setops,
        similarity,
        sketches,
        skew,
        spatial,
        sql_surface,
        subqueries,
        text,
        tpch_extra,
        udfs,
        windows,
    )
    from .sources import python_source as _python_source  # noqa: F401
    from .streaming import chunk_store as _chunk_store  # noqa: F401
    from .streaming import incremental_dedup as _incremental_dedup  # noqa: F401
    from .streaming import incremental_index as _incremental_index  # noqa: F401
    from .streaming import scd2_apply as _scd2_apply  # noqa: F401
    from .streaming import txtable_sink as _txtable_sink  # noqa: F401
    from .streaming import queries as streaming_queries  # noqa: F401
    from .streaming import transform_state as _transform_state  # noqa: F401

    _LOADED = True


def run_query(spark: SparkSession, name: str, sf_dir: str) -> Any:
    _ensure_loaded()
    return _QUERIES[name](spark, sf_dir)
