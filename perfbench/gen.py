"""Seeded input generation for every benchmark workload.

The program under test only ever sees the files written here.  Every
generator draws from ``numpy.random.default_rng(seed)``, so one seed gives
byte-identical inputs.  Table shapes and value domains follow the engine's
documented fixtures (FIXTURES.md): the five reference-pipeline CSVs (A1-A5,
with the edge cases A lists) and the TPC-H-shaped parquet tables plus
``events``/``documents``/``embeddings`` (B).
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# The fixture vocabulary; "dup" is reserved for planted near-duplicates.
VOCAB = (
    "a the row query stream fast spark line small customer group key agg "
    "scan slow table part merge window order column join vector value hash "
    "batch sort data big filter"
).split()
# Documents draw COMMON_FRAC of their words from VOCAB and the rest from a
# long tail, so two unrelated documents share few distinct words: over
# VOCAB alone a long document holds nearly every word, and unrelated
# documents reach token-set Jaccard >= 0.9 across languages.
TAIL_VOCAB = [f"w{i:04d}" for i in range(4000)]
COMMON_FRAC = 0.3
EMB_DIM = 64
EMB_LABELS = 10
NEAR_DUP_FRAC = 0.05

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CSV_NAMES = ("users.csv", "buy-clicks.csv", "game-clicks.csv", "user-session.csv", "team.csv")


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * 86_400_000_000


def _days_us(rng, n: int, lo: tuple, hi: tuple) -> np.ndarray:
    """Midnight timestamps (µs since epoch) uniform over [lo, hi]."""
    a, b = _epoch_us(*lo) // 86_400_000_000, _epoch_us(*hi) // 86_400_000_000
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict[str, dict]:
    """The seven TPC-H-shaped tables at scale factor ``sf`` (lineitem is
    ~6M·sf rows), as column dicts."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(20_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    names = [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days_us(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days_us(rng, n_line, (1995, 1, 2), (2001, 11, 4))),
    }
    return t


def events_table(seed: int, n_events: int, n_users: int) -> dict:
    """Event stream over 30 days of 2024-01, ordered by event_id."""
    rng = np.random.default_rng([seed, 2])
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_events))
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n_events)),
        "value": _money(rng, n_events, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }


def documents_table(seed: int, n_docs: int) -> dict:
    """Word-bag documents over the fixture vocabulary and its tail; NEAR_DUP_FRAC of
    them are an earlier document (in its language) plus a trailing ``dup``
    token, so the dedup operators have genuine near-duplicate pairs."""
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(8, 91, n_docs)
    n_words = int(lengths.sum())
    words = np.where(rng.random(n_words) < COMMON_FRAC, rng.choice(VOCAB, n_words), rng.choice(TAIL_VOCAB, n_words))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    n_dup = int(n_docs * NEAR_DUP_FRAC)
    dup_ids = rng.choice(np.arange(1, n_docs), n_dup, replace=False)
    for i in np.sort(dup_ids):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup"
        langs[i] = langs[src]
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }


def embeddings_table(seed: int, n_vecs: int) -> dict:
    """Unit-norm 64-d float vectors drawn around EMB_LABELS centroids."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_tables(out_dir: str, tables: dict[str, dict]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        _write(cols, os.path.join(out_dir, f"{name}.parquet"))


def write_sf_dir(out_dir: str, seed: int, *, sf: float, n_docs: int, n_vecs: int) -> None:
    """A complete sf-dir (all ten tables) the registered queries read."""
    tables = tpch_tables(seed, sf)
    n_cust = len(tables["customer"]["c_custkey"])
    tables["events"] = events_table(seed, max(1000, int(1_000_000 * sf)), n_cust)
    tables["documents"] = documents_table(seed, n_docs)
    tables["embeddings"] = embeddings_table(seed, n_vecs)
    write_tables(out_dir, tables)


# --- A. The five reference-pipeline CSVs -----------------------------------


USER_SEGMENTS = (
    {"years": (1994, 2001), "prices": [1.0, 2.0], "hits": (0, 1), "strength": (0.0, 0.15)},
    {"years": (1985, 1992), "prices": [3.0, 4.0], "hits": (1, 2), "strength": (0.25, 0.4)},
    {"years": (1955, 1962), "prices": [20.0, 25.0, 30.0], "hits": (3, 5), "strength": (0.85, 1.0)},
)


def segment_rows(seed: int, n_users: int) -> dict[str, tuple[list[str], list[list]]]:
    """Rows of the five pipeline CSVs (header, rows), columns in the
    engine's declared schema order.  Besides the bulk users, every
    FIXTURES.md A edge case is present:

    - a user with no buys (dropped by the inner join);
    - a user with no team (left join → strength 0);
    - a user on two teams (row multiplication after dropDuplicates);
    - a user whose dob is after the reference date (age ≤ 0 → null log);
    - a session with price 0 (log(min_buy) → null);
    - duplicated (userId, userSessionId) buy rows.
    """
    rng = np.random.default_rng([seed, 5])
    ts = "2016-05-01 12:00:00"
    n_teams = max(10, n_users // 20)
    u = np.arange(n_users)
    # Edge-case users, fixed offsets from the end of the id range.
    no_buys, no_team, two_teams, future_dob, zero_price, dup_session = u[-6:]
    # Every user belongs to one of len(USER_SEGMENTS) planted
    # segments, each with
    # its own band of birth years, prices, hits (of 4 clicks) and team
    # strengths.
    # Well-separated segments make k-means converge in a similar number of
    # iterations on every seed, so a seed changes the values but not how
    # much work the scan does (uniform draws took 19 to 30 Lloyd iterations
    # for k 2..3 over ten seeds).
    seg = rng.integers(0, len(USER_SEGMENTS), n_users)

    years = np.array([rng.integers(*USER_SEGMENTS[g]["years"]) for g in seg])
    dob = [f"{y}-{m:02d}-{d:02d}" for y, m, d in zip(years, rng.integers(1, 13, n_users), rng.integers(1, 29, n_users))]
    dob[future_dob] = "2020-01-01"
    users = [[ts, int(i), f"nick{i}", f"@nick{i}", dob[i], str(c)] for i, c in zip(u, rng.choice(["US", "DE", "FR", "BR", "JP"], n_users))]

    buys = []
    n_sessions = rng.integers(1, 4, n_users)
    tx = 0
    for user, ns in zip(u, n_sessions):
        if user == no_buys:
            continue
        for s in range(ns):
            sid = int(user) * 10 + s
            n_items = int(rng.integers(1, 4))
            prices = np.round(rng.choice(USER_SEGMENTS[seg[user]]["prices"], n_items), 2)
            if user == zero_price and s == 0:
                prices[:] = 0.0
            for p in prices:
                buys.append([ts, tx, sid, int(user % n_teams), int(user), int(tx % 6), float(p)])
                tx += 1
            if user == dup_session:
                buys.append(list(buys[-1]))

    clicks = []
    n_hits = np.array([rng.integers(*USER_SEGMENTS[g]["hits"]) for g in seg])
    hits = np.arange(4)[None, :] < n_hits[:, None]
    for user in u:
        for j in range(4):
            clicks.append([ts, int(user) * 4 + j, int(user), int(user) * 10, int(hits[user, j]), int(user % n_teams), 1])

    # Team t belongs to segment t % len(USER_SEGMENTS); a user joins one of
    # their segment's teams.
    n_seg = len(USER_SEGMENTS)
    sessions = []
    team_of = rng.integers(0, n_teams // n_seg, n_users) * n_seg + seg
    for user in u:
        if user == no_team:
            continue
        sessions.append([ts, int(user) * 10, int(user), int(team_of[user]), 1, "start", 1, "pc"])
        if user == two_teams:
            sessions.append([ts, int(user) * 10 + 1, int(user), int((team_of[user] + n_seg) % n_teams), 1, "start", 1, "pc"])

    strength = np.round([rng.uniform(*USER_SEGMENTS[t % n_seg]["strength"]) for t in range(n_teams)], 4)
    team = [[t, f"team{t}", ts, ts, float(strength[t]), 1] for t in range(n_teams)]
    return {
        "users.csv": (["timestamp", "userId", "nick", "twitter", "dob", "country"], users),
        "buy-clicks.csv": (["timestamp", "txId", "userSessionId", "team", "userId", "buyId", "price"], buys),
        "game-clicks.csv": (["timestamp", "clickId", "userId", "userSessionId", "isHit", "teamId", "teamLevel"], clicks),
        "user-session.csv": (
            ["timestamp", "userSessionId", "userId", "teamId", "assignmentId", "sessionType", "teamLevel", "platformType"],
            sessions,
        ),
        "team.csv": (["teamId", "name", "teamCreationTime", "teamEndTime", "strength", "currentLevel"], team),
    }


def write_segment_csvs(out_dir: str, seed: int, n_users: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, (header, rows) in segment_rows(seed, n_users).items():
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
