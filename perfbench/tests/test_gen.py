import csv
import datetime as dt
import os

import pyarrow.parquet as pq

import gen


def read_csvs(d):
    out = {}
    for name in gen.CSV_NAMES:
        with open(os.path.join(d, name)) as f:
            out[name] = list(csv.DictReader(f))
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen.write_sf_dir(str(tmp_path / run / "sf"), 7, sf=0.0005, n_docs=200, n_vecs=100)
        gen.write_segment_csvs(str(tmp_path / run / "seg"), 7, 300)
    for t in gen.TPCH_TABLES + ("events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / "sf" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / "sf" / f"{t}.parquet")
        assert a.equals(b), t
    for name in gen.CSV_NAMES:
        assert (tmp_path / "a" / "seg" / name).read_bytes() == (tmp_path / "b" / "seg" / name).read_bytes()


def test_other_seed_gives_other_inputs():
    a = gen.documents_table(1, 100)
    b = gen.documents_table(2, 100)
    assert a["text"] != b["text"]
    assert gen.segment_rows(1, 100)["buy-clicks.csv"] != gen.segment_rows(2, 100)["buy-clicks.csv"]


def test_documents_plant_same_language_near_duplicates():
    docs = gen.documents_table(3, 400)
    dups = [i for i, t in enumerate(docs["text"]) if t.endswith(" dup")]
    assert len(dups) == int(400 * gen.NEAR_DUP_FRAC)
    for i in dups:
        src = [j for j in range(i) if docs["text"][j] == docs["text"][i][: -len(" dup")]]
        assert src and docs["lang"][src[0]] == docs["lang"][i]


def test_segment_csvs_hold_every_fixture_edge_case(tmp_path):
    gen.write_segment_csvs(str(tmp_path), 5, 300)
    c = read_csvs(str(tmp_path))
    users = {int(r["userId"]) for r in c["users.csv"]}
    buyers = {int(r["userId"]) for r in c["buy-clicks.csv"]}
    assert users - buyers, "a user with no buys"
    teamed = [int(r["userId"]) for r in c["user-session.csv"]]
    assert users - set(teamed), "a user with no team"
    per_user = {}
    for r in c["user-session.csv"]:
        per_user.setdefault(int(r["userId"]), set()).add(int(r["teamId"]))
    assert any(len(t) > 1 for t in per_user.values()), "a user on two teams"
    ref = dt.date(2016, 6, 16)
    assert any(dt.date.fromisoformat(r["dob"]) >= ref for r in c["users.csv"]), "age <= 0"
    sessions = {}
    for r in c["buy-clicks.csv"]:
        key = (r["userId"], r["userSessionId"])
        sessions[key] = sessions.get(key, 0.0) + float(r["price"])
    assert 0.0 in sessions.values(), "a price-0 session"
    rows = [tuple(r.values()) for r in c["buy-clicks.csv"]]
    assert len(rows) != len(set(rows)), "duplicate (userId, userSessionId) rows"


def test_csv_columns_follow_the_engine_schemas():
    from pyspark_kmeans_spark import schemas

    rows = gen.segment_rows(1, 50)
    for name, schema in [
        ("users.csv", schemas.USERS_SCHEMA),
        ("buy-clicks.csv", schemas.BUY_CLICKS_SCHEMA),
        ("game-clicks.csv", schemas.GAME_CLICKS_SCHEMA),
        ("user-session.csv", schemas.USER_SESSION_SCHEMA),
        ("team.csv", schemas.TEAM_SCHEMA),
    ]:
        assert rows[name][0] == schema.fieldNames(), name


def test_only_planted_documents_are_near_duplicates():
    # The dedup_minhash_lsh check relies on it: every pair at token-set
    # Jaccard >= 0.9 is in one language, so the exact oracle (which pairs
    # documents within a language) holds every pair LSH may emit.
    docs = gen.documents_table(4, 300)
    toks = [set(t.split()) for t in docs["text"]]
    for i in range(len(toks)):
        for j in range(i):
            if len(toks[i] & toks[j]) >= 0.9 * len(toks[i] | toks[j]):
                assert docs["lang"][i] == docs["lang"][j], (i, j)
                assert docs["text"][i].endswith(" dup") or docs["text"][j].endswith(" dup"), (i, j)


def test_segment_users_fall_into_the_planted_segments():
    rows = gen.segment_rows(6, 300)
    strength = {int(t[0]): t[4] for t in rows["team.csv"][1]}
    team_of = {int(s[2]): int(s[3]) for s in rows["user-session.csv"][1]}
    bands = [seg["strength"] for seg in gen.USER_SEGMENTS]
    for t, s in strength.items():
        lo, hi = bands[t % len(bands)]
        assert lo <= s <= hi
    seen = {team_of[u] % len(bands) for u in team_of}
    assert seen == set(range(len(bands)))
