"""Machine-readable query catalog (VERDICT r10 #8).

With 454 registered queries, COVERAGE.md's prose tables no longer convey
the inventory; this module generates ``CATALOG.json`` — one row per
registered query: where it lives, its category, whether it has a DuckDB
oracle, its driver-verification history (first-green / last-confirmed
round), and which bench records measured it. The top-level
``reconfirm_debt`` rollup (VERDICT r11 #7) counts names whose last green
row predates the previous round.

Two kinds of fields, with different staleness rules:

* REGISTRY-STATIC fields (``STATIC_FIELDS``: module, category,
  has_oracle) are pinned by CI: tests/test_layout.py regenerates them and
  diffs against the checked-in file, so adding a query without
  regenerating the catalog reds CI.
* HISTORY fields (first/last green round, bench appearances) are a
  snapshot stamped ``as_of_round``; the driver writing a new
  CORRECTNESS/BENCH file between sessions must NOT red CI (the r8–r10
  design rule: never assert a future round's file state), so CI ignores
  them and the next session's regeneration refreshes them.

Regenerate with ``python -m tmdb_movie_data_pipeline_spark.catalog``.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

_ROOT = Path(__file__).resolve().parent.parent


def _bench_appearances() -> dict[str, list[str]]:
    """name -> bench detail records (round or session tagged) that timed it."""
    out: dict[str, list[str]] = {}
    for p in sorted(_ROOT.glob("BENCH_DETAIL_*.json")):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        tag = p.stem.replace("BENCH_DETAIL_", "")
        names = list(data.get("queries", {})) + list(
            data.get("streaming_queries", {})
        )
        for n in names:
            out.setdefault(n, []).append(tag)
    return out


def build_catalog() -> dict[str, Any]:
    from .registry import Verification, all_oracles, all_queries, driver_history

    queries, oracles = all_queries(), all_oracles()
    newest, hist = driver_history()
    bench = _bench_appearances()
    rows: dict[str, Any] = {}
    for name, fn in queries.items():
        code = fn.__code__
        rel = Path(code.co_filename).resolve().relative_to(_ROOT)
        h = hist.get(name, Verification())
        rows[name] = {
            # -- registry-static (CI-pinned) --
            "module": f"{rel}:{code.co_firstlineno}",
            "category": fn.__module__.rsplit(".", 1)[-1],
            "has_oracle": name in oracles,
            # -- history snapshot (as_of_round; NOT CI-pinned) --
            "first_green_round": h.first_green,
            "last_green_round": h.last_green,
            "driver_rows": h.rows,
            "latest_green": h.latest_green,
            "bench_records": bench.get(name, []),
        }
    token = newest + 1
    return {
        "as_of_round": token,
        "n_active": len(queries),
        "reconfirm_debt": _reconfirm_debt(rows, token),
        "queries": dict(sorted(rows.items())),
    }


def _reconfirm_debt(rows: dict[str, Any], token: int) -> dict[str, Any]:
    """Rollup of driver re-confirmation debt (VERDICT r11 #7): how many
    names last earned a driver-green row before round ``token − 1``.
    Derived from the same per-query history snapshot in this file, so the
    CI pin (tests/test_layout.py::test_catalog_reconfirm_debt_internally_
    consistent) checks INTERNAL consistency against the checked-in rows
    rather than live round state — a driver file landing between sessions
    can never red it (the standing never-assert-round-state rule)."""
    last = {
        n: r["last_green_round"]
        for n, r in rows.items()
        if r["last_green_round"] is not None
    }
    stale = {n: r for n, r in last.items() if r < token - 1}
    by_round: dict[str, int] = {}
    for r in sorted(set(stale.values())):
        by_round[str(r)] = sum(1 for v in stale.values() if v == r)
    return {
        "threshold_round": token - 1,
        "n_active_stale": len(stale),
        "n_never_verified": len(rows) - len(last),
        "oldest_green_round": min(last.values()) if last else None,
        "stale_by_last_green_round": by_round,
    }


STATIC_FIELDS = ("module", "category", "has_oracle")


def main() -> None:
    path = _ROOT / "CATALOG.json"
    path.write_text(json.dumps(build_catalog(), indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
