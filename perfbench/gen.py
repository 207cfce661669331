"""Seeded input generators: the TPC-H-ish tables the registry's queries read,
and TMDB discover pages for the backfill.

The tables follow the schemas and value domains of the sf testdata tables
(FIXTURES.md part B): same columns and types, same categorical values, key
ranges and date spans, 5% near-duplicate documents (another document's text
plus " dup") and unit-norm 64-dim embeddings. The same seed gives the same
files, byte for byte.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table; ``bench`` matches the sf0.01 testdata, ``tiny`` sf0.001
SCALES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000, events=10000,
                  documents=500, embeddings=500),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500, events=1000,
                 documents=500, embeddings=500),
}

_WORDS = ("query row stream the spark line small fast group customer batch sort value "
          "hash filter big data part column order scan a slow agg key window table "
          "merge vector join").split()
_PART_ADJ = "red new hot small cold large old blue".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def _days(rng, lo: date, hi: date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: str) -> dict[str, pa.Table]:
    """Every table of one scale, generated from ``seed``."""
    n = SCALES[scale]
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart),
                                               rng.choice(_PART_NOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, date(1995, 1, 1), date(2001, 8, 1), no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, date(1995, 1, 2), date(2001, 11, 4), nl),
    })
    ne = n["events"]
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne * 3 // 200, 1), ne), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 101, nd)]
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    langs = rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write_tables(seed: int, scale: str, out_dir: str, names: list[str]) -> tuple[int, int]:
    """One ``{name}.parquet`` file per named table under ``out_dir``;
    returns their (bytes, rows)."""
    os.makedirs(out_dir, exist_ok=True)
    total = rows = 0
    for name, tbl in tables(seed, scale).items():
        if name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
        rows += tbl.num_rows
    return total, rows


# -- TMDB discover pages ------------------------------------------------------

GENRES = {28: "Action", 12: "Adventure", 16: "Animation", 35: "Comedy", 80: "Crime",
          99: "Documentary", 18: "Drama", 10751: "Family", 14: "Fantasy", 27: "Horror",
          9648: "Mystery", 10749: "Romance", 878: "Science Fiction", 53: "Thriller"}
_OVERVIEW = ("a the of and to in his her young old family city war love secret world "
             "night life man woman lost dark journey must find story home town past "
             "truth friends battle power").split()
PAGE_SIZE = 20


def write_pages(seed: int, windows: list[tuple[str, str]], pages: int, out_dir: str) -> dict:
    """Discover pages ``{from}_{to}_p{n}.json`` for every window, in the
    fixture layout the ``paged_rest`` source reads.

    Popularity values are distinct. About 5% of rows repeat an id, half from the same window and half from
    an earlier one; about 3% have a null ``release_date``; one genre id in
    each hundred is unknown to ``GENRES``; overviews run 40-120 words.
    Returns the generated rows (``rows``) and the page bytes (``bytes``).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    genre_ids = np.array(list(GENRES) + [9999])
    p_genre = np.full(len(genre_ids), 0.99 / len(GENRES))
    p_genre[-1] = 0.01
    words = np.array(_OVERVIEW)
    langs = np.array(["en", "fr", "es", "ja", "ko", "de"])
    n = pages * PAGE_SIZE
    # distinct popularity values make every keep-first survivor unique
    popularity = ((rng.permutation(n * len(windows)) + 1) / 1000.0).tolist()
    rows: list[dict] = []
    total = 0
    next_id = 1
    for lo, hi in windows:
        first = len(rows)
        u = rng.random(n).tolist()
        pick = rng.random(n).tolist()
        day = rng.integers(1, 29, n).tolist()
        no_date = (rng.random(n) < 0.03).tolist()
        no_poster = (rng.random(n) < 0.1).tolist()
        n_genres = rng.integers(0, 4, n).tolist()
        genres = rng.choice(genre_ids, (n, 3), p=p_genre).tolist()
        vote_avg = np.round(rng.uniform(0, 10, n), 1).tolist()
        vote_cnt = rng.integers(0, 20000, n).tolist()
        lang = rng.choice(langs, n).tolist()
        n_words = rng.integers(40, 121, n).tolist()
        text = rng.choice(words, (n, 120)).tolist()
        key = f"{lo}_{hi}"
        for i in range(n):
            if u[i] < 0.025 and len(rows) > first:
                mid = rows[first + int(pick[i] * (len(rows) - first))]["id"]
            elif u[i] < 0.05 and first > 0:
                mid = rows[int(pick[i] * first)]["id"]
            else:
                mid = next_id
                next_id += 1
            rows.append({
                "id": mid,
                "title": f"Movie {mid}",
                "original_title": f"Original {mid}",
                "release_date": None if no_date[i] else f"{lo[:8]}{day[i]:02d}",
                "genre_ids": genres[i][: n_genres[i]],
                "vote_average": vote_avg[i],
                "vote_count": vote_cnt[i],
                "popularity": popularity[len(rows)],
                "original_language": lang[i],
                "overview": " ".join(text[i][: n_words[i]]),
                "poster_path": None if no_poster[i] else f"/p{mid}.jpg",
                "adult": False,
                "_window": key,
            })
        for page in range(1, pages + 1):
            chunk = rows[first + (page - 1) * PAGE_SIZE: first + page * PAGE_SIZE]
            body = json.dumps({
                "page": page,
                "total_pages": pages,
                "results": [{k: v for k, v in r.items() if k != "_window"} for r in chunk],
            })
            with open(os.path.join(out_dir, f"{lo}_{hi}_p{page}.json"), "w") as f:
                f.write(body)
            total += len(body)
    return {"rows": rows, "bytes": total}
