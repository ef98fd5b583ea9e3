"""Seeded input generator for the benchmark.

Writes the ten warehouse tables the declared queries read (one parquet file
each, the schemas of FIXTURES.md section 2) and a JSON-lines corpus of
Fotmob-shaped match documents (FIXTURES.md section 1). Everything is drawn
from one numpy generator seeded by the caller, so a seed fully determines
the bytes the program receives.

The table distributions follow the testdata the queries were written
against: uniform keys, two-decimal money, dates at day granularity, a
31-word document vocabulary with 5% near-duplicate documents, and random
unit-norm 64-d embeddings.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data table row column key value query join group sort order "
         "filter scan hash merge batch stream window spark part line customer "
         "agg vector big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpc_tables(rng, sf):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    ord_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array((EPOCH_1995_MS + ord_days * DAY_MS) * 1000,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    ship_days = rng.integers(1, 2500, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((EPOCH_1995_MS + ship_days * DAY_MS) * 1000,
                               pa.timestamp("us"))})
    return t


def events_table(rng, sf):
    n = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    gaps = rng.exponential(30 * DAY_MS * 1000 / n, n)
    ts = EPOCH_2024_US + np.cumsum(gaps).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings_table(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


# --- Fotmob match documents -------------------------------------------------

EVENTS = ["Goal", "AttemptSaved", "Miss"]
SHOT_TYPES = ["RightFoot", "LeftFoot", "Header"]
SITUATIONS = ["RegularPlay", "SetPiece", "FastBreak", "FromCorner", "FreeKick"]
TEAM_NAMES = ["Arsenal", "Chelsea", "Liverpool", "Everton", "Fulham",
              "Brentford", "Burnley", "Wolves", "Brighton", "Newcastle",
              "Bournemouth", "Southampton", "Leicester", "Leeds", "Watford",
              "Norwich", "Sunderland", "Middlesbrough", "Stoke", "Reading"]


def matches(rng, n_matches, mean_shots):
    """Match documents in matchId order.

    The seed sets the team pool, how often `Tottenham` (the one spelling the
    reference cleans on the home side only) plays, how many team ids collide
    (two names sharing one id, which makes the fact join fan out), the
    squads and every shot attribute.
    """
    n_teams = len(TEAM_NAMES)
    teams = [(name, 8000 + i) for i, name in enumerate(TEAM_NAMES)]
    teams.append(("Tottenham", 8600))
    n_collide = int(rng.integers(1, 4))
    for i in rng.choice(n_teams, n_collide, replace=False):
        teams.append((f"{TEAM_NAMES[i]} B", teams[i][1]))
    spurs_share = float(rng.uniform(0.05, 0.2))
    squads = {tid: [f"Player {tid}-{k}" for k in range(int(rng.integers(14, 26)))]
              for _, tid in teams}

    def pick():
        if rng.random() < spurs_share:
            return n_teams  # Tottenham
        return int(rng.integers(0, len(teams)))

    shot_id = 0
    docs = []
    for m in range(n_matches):
        h = pick()
        a = pick()
        while teams[a][1] == teams[h][1]:
            a = int(rng.integers(0, len(teams)))
        shots = []
        for _ in range(int(rng.poisson(mean_shots))):
            side = teams[h] if rng.random() < 0.55 else teams[a]
            ev = EVENTS[int(rng.choice(3, p=[0.12, 0.33, 0.55]))]
            blocked = ev == "Miss" and rng.random() < 0.3
            on_target = ev != "Miss"
            shot_id += 1
            shots.append({
                "id": 3_000_000 + shot_id,
                "eventType": ev,
                "playerName": squads[side[1]][int(rng.integers(0, len(squads[side[1]])))],
                "shotType": SHOT_TYPES[int(rng.integers(0, 3))],
                "situation": SITUATIONS[int(rng.integers(0, 5))],
                "teamId": side[1],
                "x": round(float(rng.uniform(60, 105)), 3),
                "y": round(float(rng.uniform(0, 68)), 3),
                "isBlocked": bool(blocked),
                "blockedX": round(float(rng.uniform(80, 100)), 3) if blocked else None,
                "blockedY": round(float(rng.uniform(20, 48)), 3) if blocked else None,
                "goalCrossedY": round(float(rng.uniform(28, 40)), 3) if not blocked else None,
                "goalCrossedZ": round(float(rng.uniform(0, 3)), 3) if not blocked else None,
                "expectedGoals": round(float(rng.beta(1.2, 9)), 4),
                "expectedGoalsOnTarget":
                    round(float(rng.uniform(0, 1)), 4) if on_target else None,
            })
        docs.append({
            "matchId": f"{4_100_000 + m}",
            "general": {"homeTeam": {"name": teams[h][0], "id": teams[h][1]},
                        "awayTeam": {"name": teams[a][0], "id": teams[a][1]}},
            "content": {"shotmap": {"shots": shots}}})
    return docs


def generate(out_dir, seed, sf, n_docs, n_vecs, n_matches, mean_shots):
    """Write every input under `out_dir`; returns {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = tpc_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    stats = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, version="2.6")
        stats[name] = (t.num_rows, os.path.getsize(path))
    path = os.path.join(out_dir, "matches.jsonl")
    docs = matches(rng, n_matches, mean_shots)
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")) + "\n")
    stats["matches"] = (sum(len(d["content"]["shotmap"]["shots"]) for d in docs),
                        os.path.getsize(path))
    return stats
