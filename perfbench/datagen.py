"""Seeded input generators for the benchmark.

Two families, each a pure function of (seed, scale):

- ``catalog``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` that the catalog queries read (``sources/catalog.py``
  ``load_table``). ``scale`` is the scale factor: 0.1 gives 600k lineitem
  rows, the shape of the engine's sf0.1 test data.
- ``music``: the reference's bronze source tables in the FIXTURES.md schema
  (dim_songs, dim_users, dim_playlists, bridge_playlist_tracks,
  graph_user_follows, fact_listening_events). ``scale`` 1.0 is 2,000 songs,
  600 users and 24,000 listening events over 28 days. Beside them,
  ``waves/`` holds the landing-zone files for the incremental ingest path:
  one parquet file of later listening events per wave, with a global
  ``seq`` column.

Generation is numpy-vectorized and deterministic; files are written with
pyarrow (parquet format 2.6; the three catalog timestamp columns the engine
documents as TIMESTAMP(NANOS) are written so, every other timestamp as
microseconds). ``ensure`` caches a generated set under a
directory keyed by (family, seed, scale) and marks it complete with a
``_DONE`` file, so a set is built once per checkout.

Run directly to build one set:

    python3 perfbench/datagen.py --family music --seed 7 --scale 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so cached sets from older code are not reused
VERSION = 2
GENRES = ["Pop", "Rock", "Hip-Hop", "Jazz", "Electronic", "Classical", "Country"]
EVENT_TYPES = ["complete_listen", "like", "skip"]
EVENT_P = [0.70, 0.15, 0.15]
# 28 event days across the Jan/Feb month boundary; the window anchor sits
# inside it so the 7-day trending filter and the partitioning both bite.
EVENT_START = np.datetime64("2024-01-20")
EVENT_DAYS = 28
ANCHOR = "2024-02-10"
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), version="2.6")


def _us(days: np.ndarray, start: str) -> np.ndarray:
    return np.datetime64(start, "D") + days.astype("timedelta64[D]")


def _ns(ts: np.ndarray) -> pa.Array:
    """A TIMESTAMP(NANOS) column with microsecond-aligned values: the type
    the engine's catalog reads for ``events.ts``, ``orders.o_orderdate``
    and ``lineitem.l_shipdate`` (``sources/catalog.py`` ``NANO_TS_COLS``),
    which it takes in as longs and converts."""
    return pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns"))


# ---------------------------------------------------------------------------
# catalog: the query catalog's test-data schema
# ---------------------------------------------------------------------------
def gen_catalog(out_dir: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_000, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * scale))
    n_users = max(150, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = max(200, int(20_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ns(_us(rng.integers(0, 2405, n_ord), "1995-01-01")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ns(_us(rng.integers(1, 2499, n_line), "1995-01-01")),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ns(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    lens = rng.integers(10, 101, n_docs)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(WORDS[w] for w in flat[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    # 5% near-duplicates: an earlier document's text plus one token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.5 * centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------------------
# music: FIXTURES.md §1-§6 source tables
# ---------------------------------------------------------------------------
def music_sizes(scale: float) -> dict:
    return {
        "songs": max(100, int(2_000 * scale)),
        "users": max(30, int(600 * scale)),
        "artists": max(20, int(200 * scale)),
        "events": max(1_000, int(24_000 * scale)),
        "waves": 2,
        "wave_rows": max(100, int(8_000 * scale)),
    }


def gen_music(out_dir: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng([seed, 2])
    size = music_sizes(scale)
    n_songs, n_users, n_events = size["songs"], size["users"], size["events"]

    track_id = np.arange(10001, 10001 + n_songs, dtype="int64")
    artist_id = rng.integers(1, size["artists"] + 1, n_songs)
    genre = rng.integers(0, len(GENRES), n_songs)
    pop = rng.uniform(0.1, 1.0, n_songs)
    _write(out_dir, "dim_songs", {
        "track_id": track_id,
        "title": [f"Song Title {i}" for i in range(n_songs)],
        "artist_id": artist_id,
        "artist_name": [f"Artist {a}" for a in artist_id],
        "genre": [GENRES[g] for g in genre],
        "duration_ms": pa.array(rng.integers(120_000, 300_001, n_songs), pa.int32()),
        "release_date": _us(rng.integers(0, 19, n_songs), "2024-01-01"),
        "base_popularity": pa.array(pop, pa.float32()),
    })

    user_id = np.arange(1, n_users + 1, dtype="int64")
    pref = [rng.choice(len(GENRES), rng.integers(1, 4), replace=False) for _ in user_id]
    join_date = _us(rng.integers(0, 10, n_users), "2024-01-01")
    _write(out_dir, "dim_users", {
        "user_id": user_id,
        "user_name": [f"User_{u}" for u in user_id],
        "preferred_genres": [",".join(GENRES[g] for g in p) for p in pref],
        "join_date": join_date,
    })

    n_pl = rng.integers(0, 6, n_users)
    owner = np.repeat(user_id, n_pl)
    n_lists = len(owner)
    _write(out_dir, "dim_playlists", {
        "playlist_id": np.arange(1, n_lists + 1, dtype="int64"),
        "playlist_name": [
            f"User_{u}'s Mix #{k}"
            for u, c in zip(user_id, n_pl) for k in range(1, c + 1)
        ],
        "owner_user_id": owner,
        "created_date": np.repeat(join_date, n_pl),
    })
    per_list = rng.integers(10, 51, n_lists)
    # sampling without replacement per playlist: the first ``m`` of a
    # random permutation's argsort over a random key matrix
    keys = rng.random((n_lists, n_songs))
    picks = np.argsort(keys, axis=1)[:, :50]
    mask = np.arange(50)[None, :] < per_list[:, None]
    _write(out_dir, "bridge_playlist_tracks", {
        "playlist_id": np.repeat(np.arange(1, n_lists + 1, dtype="int64"), per_list),
        "track_id": track_id[picks[mask]],
    })

    deg = rng.integers(5, 21, n_users)
    a = np.repeat(user_id, deg)
    b = rng.integers(1, n_users, len(a))
    b = np.where(b >= a, b + 1, b)  # never a self-edge
    pairs = np.unique(np.concatenate([
        np.stack([a, b], axis=1), np.stack([b, a], axis=1)
    ]), axis=0)
    _write(out_dir, "graph_user_follows", {
        "user_id_a": pairs[:, 0].astype("int64"),
        "user_id_b": pairs[:, 1].astype("int64"),
    })

    ev_user = rng.integers(0, n_users, n_events)
    # 60% of plays come from the user's first preferred genre, the rest from
    # the whole catalog; both weighted by base popularity
    p_all = pop / pop.sum()
    tracks = rng.choice(n_songs, n_events, p=p_all)
    biased = rng.random(n_events) < 0.6
    first_pref = np.array([p[0] for p in pref])[ev_user]
    for g in range(len(GENRES)):
        sel = biased & (first_pref == g)
        members = np.flatnonzero(genre == g)
        if sel.any() and len(members):
            w = pop[members] / pop[members].sum()
            tracks[sel] = members[rng.choice(len(members), int(sel.sum()), p=w)]
    day = rng.integers(0, EVENT_DAYS, n_events)
    sec = rng.integers(0, 86_400, n_events)
    ts = (EVENT_START + day.astype("timedelta64[D]")).astype("datetime64[s]") + sec.astype(
        "timedelta64[s]"
    )
    order = np.argsort(ts, kind="stable")
    _write(out_dir, "fact_listening_events", {
        "event_id": [f"evt_{n}" for n in range(n_events)],
        "user_id": user_id[ev_user[order]],
        "track_id": track_id[tracks[order]],
        "event_type": np.array(EVENT_TYPES)[rng.choice(3, n_events, p=EVENT_P)],
        "timestamp": ts[order].astype("datetime64[us]"),
    })

    # landing waves: one day each after the batch window, same keys
    os.makedirs(os.path.join(out_dir, "waves"))
    rows = size["wave_rows"]
    for w in range(size["waves"]):
        seq = np.arange(w * rows, (w + 1) * rows, dtype="int64")
        day = (EVENT_START + np.timedelta64(EVENT_DAYS + w, "D")).astype("datetime64[s]")
        _write(os.path.join(out_dir, "waves"), f"wave_{w:03d}", {
            "event_id": [f"evt_{n_events + s}" for s in seq],
            "user_id": user_id[rng.integers(0, n_users, rows)],
            "track_id": track_id[rng.integers(0, n_songs, rows)],
            "event_type": np.array(EVENT_TYPES)[rng.choice(3, rows, p=EVENT_P)],
            "timestamp": (day + np.sort(rng.integers(0, 86_400, rows)).astype(
                "timedelta64[s]"
            )).astype("datetime64[us]"),
            "seq": seq,
        })


FAMILIES = {"catalog": gen_catalog, "music": gen_music}


def ensure(cache_root: str, family: str, seed: int, scale: float) -> str:
    """The directory holding (family, seed, scale)'s tables, built if absent."""
    out = os.path.join(cache_root, f"{family}-v{VERSION}-seed{seed}-scale{scale:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    FAMILIES[family](tmp, seed, scale)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"family": family, "seed": seed, "scale": scale}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def data_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--family", choices=sorted(FAMILIES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    FAMILIES[args.family](args.out, args.seed, args.scale)


if __name__ == "__main__":
    main()
