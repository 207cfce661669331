"""Result checks: the registry's DuckDB oracles for queries, and a plain
Python recomputation of the backfill's output."""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb
import pandas as pd

def _canon_value(v) -> str:
    """The oracle gate's canonical form of one value (tests/test_oracle.py)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "dtype") and str(v.dtype).startswith("datetime64"):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def fingerprint(df: pd.DataFrame) -> tuple:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = sorted(df.columns)
    rows = []
    for vals in df[cols].values:
        canon = []
        for v in vals:
            if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT or v is pd.NA:
                v = None
            canon.append(_canon_value(v))
        rows.append("\x1f".join(canon))
    rows.sort()
    digest = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return (tuple(cols), len(df), digest)


def oracle_fingerprints(staged_dir: str, tables: list[str], names: list[str],
                        oracles: dict[str, str], threads: int) -> dict[str, tuple]:
    """Run each query's oracle SQL on the staged tables with DuckDB."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute("SET memory_limit='2GB'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{staged_dir}/{t}.parquet/*.parquet')")
        return {n: fingerprint(con.execute(oracles[n]).df()) for n in names}
    finally:
        con.close()


# -- backfill -------------------------------------------------------------------

MOVIE_COLS = ["tmdb_id", "title", "original_title", "release_date", "genres",
              "vote_average", "vote_count", "popularity", "original_language",
              "overview", "poster_url"]


def _normalize(r: dict, genres: dict[int, str], image_base: str, poster_size: str) -> tuple:
    names = [genres.get(g, str(g)) for g in r["genre_ids"] or []]
    poster = r["poster_path"]
    return (r["id"], r["title"], r["original_title"], r["release_date"], "|".join(names),
            r["vote_average"], r["vote_count"], r["popularity"], r["original_language"],
            r["overview"], f"{image_base}{poster_size}{poster}" if poster else None)


def expected_backfill(rows: list[dict], genres: dict[int, str], image_base: str,
                      poster_size: str) -> dict:
    """Keep-first survivors per (window, id) by popularity desc, then the
    master's survivor per id: earliest window, then popularity desc."""
    best: dict[tuple, dict] = {}
    for r in rows:
        k = (r["_window"], r["id"])
        if k not in best or r["popularity"] > best[k]["popularity"]:
            best[k] = r
    master: dict[int, tuple] = {}
    for (_, mid), r in sorted(best.items(), key=lambda kv: (kv[0][0], -kv[1]["popularity"])):
        master.setdefault(mid, _normalize(r, genres, image_base, poster_size))
    return {"month_rows": len(best), "master": master_digest(list(master.values()))}


def master_digest(rows: list[tuple]) -> str:
    lines = sorted("\x1f".join(_canon_value(v) for v in r) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


def read_master(path: str) -> str:
    """Digest of the master Parquet the backfill wrote, in MOVIE_COLS order."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet").to_table(columns=MOVIE_COLS)
    cols = [tbl.column(c).to_pylist() for c in MOVIE_COLS]
    return master_digest(list(zip(*cols)))
