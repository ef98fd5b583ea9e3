"""Output checks, run outside the timed passes.

Declared queries are compared with DuckDB running the same query's
`SparkEntry.oracleSql` over the same generated parquet tables. The rules are
those of tools/check_oracle.py (columns taken in name order, every value
compared as its string form), applied to the rows as a multiset: same
columns, same row count, same column kinds, and the same order-insensitive
hash of the rows.

The fidelity outputs are compared with DuckDB running the reference's Looker
view over the same generated match JSON: every shot joined to each
(team name, team id) pair of the team dimension that shares its shooting
team id, with the home-side-only `Tottenham` clean. Both the Spark Looker
view and DuckDB's own Looker join over the parquet star that Spark wrote must
equal it.
"""
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

SHOT_TYPE = ("STRUCT(id BIGINT, eventType VARCHAR, playerName VARCHAR, "
             "shotType VARCHAR, situation VARCHAR, teamId BIGINT, x DOUBLE, "
             "y DOUBLE, isBlocked BOOLEAN, blockedX DOUBLE, blockedY DOUBLE, "
             "goalCrossedY DOUBLE, goalCrossedZ DOUBLE, expectedGoals DOUBLE, "
             "expectedGoalsOnTarget DOUBLE)")
TEAM_TYPE = "STRUCT(name VARCHAR, id BIGINT)"

EXPECTED_LOOKER = f"""
WITH m AS (
  SELECT * FROM read_json('{{path}}', format='newline_delimited', columns={{
    'matchId': 'VARCHAR',
    'general': 'STRUCT(homeTeam {TEAM_TYPE}, awayTeam {TEAM_TYPE})',
    'content': 'STRUCT(shotmap STRUCT(shots {SHOT_TYPE}[]))'}})),
s AS (
  SELECT general.homeTeam.name AS home_raw, general.homeTeam.id AS home_id,
         general.awayTeam.name AS away_name, general.awayTeam.id AS away_id,
         unnest(content.shotmap.shots) AS shot
  FROM m),
f AS (
  SELECT shot.id AS shot_id, shot.eventType AS event_type,
         shot.playerName AS player_name, shot.shotType AS shot_type,
         shot.situation AS situation, shot.teamId AS teamId,
         shot.x AS shot_from_x, shot.y AS shot_from_y,
         shot.isBlocked AS is_blocked, shot.blockedX AS blocked_x,
         shot.blockedY AS blocked_y, shot.goalCrossedY AS goal_crossed_y,
         shot.goalCrossedZ AS goal_crossed_z, shot.expectedGoals AS xG,
         shot.expectedGoalsOnTarget AS xGOT,
         CASE WHEN home_raw = 'Tottenham' THEN 'Tottenham Hotspur'
              ELSE home_raw END AS home_team_name,
         home_id, away_name, away_id
  FROM s),
teams AS (
  SELECT home_team_name AS team_name, home_id AS teamId FROM f
  UNION
  SELECT away_name, away_id FROM f)
SELECT f.shot_id, t.team_name, f.player_name, f.shot_type, f.event_type,
       f.situation, f.xG, f.xGOT, f.shot_from_x, f.shot_from_y, f.is_blocked,
       f.blocked_x, f.blocked_y, f.goal_crossed_y, f.goal_crossed_z
FROM f JOIN teams t ON f.teamId = t.teamId
"""

# create_looker_data_table.sql, over the star Spark wrote
STAR_LOOKER = """
SELECT f.shot_id, t.team_name, p.player_name, st.shot_type, et.event_type,
       et.situation, f.xG, f.xGOT, f.shot_from_x, f.shot_from_y,
       f.is_blocked, f.blocked_x, f.blocked_y, f.goal_crossed_y,
       f.goal_crossed_z
FROM fact f
JOIN match_dim m ON f.match_id = m.match_id
JOIN team_dim t ON f.team_id = t.team_id
JOIN player_dim p ON f.player_id = p.player_id
JOIN shot_type_dim st ON f.shot_type_id = st.shot_type_id
JOIN event_type_dim et ON f.event_type_id = et.event_type_id
"""

STAR_TABLES = ["match_dim", "team_dim", "player_dim", "shot_type_dim",
               "event_type_dim", "fact"]


def _kind(dtype):
    k = dtype.kind
    return {"u": "i", "U": "O", "S": "O"}.get(k, k)


def compare(exp, got):
    """None when `got` equals `exp` as a multiset of rows, else a reason."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    kinds = [(c, _kind(exp[c].dtype), _kind(got[c].dtype)) for c in exp.columns]
    bad = [f"{c}:{a}/{b}" for c, a, b in kinds if a != b and len(exp)]
    if bad:
        return f"column kinds differ {bad}"

    def digest(df):
        rows = sorted("\x1f".join(r) for r in df.astype(str).itertuples(index=False))
        h = hashlib.sha256()
        for r in rows:
            h.update(r.encode())
            h.update(b"\x1e")
        return h.hexdigest()

    if digest(exp) != digest(got):
        return "row hash differs"
    return None


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def run(oracle_sql, call_names, in_dir, check_dir):
    """{call: reason or None} for every call in `call_names`."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    expected_looker = None
    for name in call_names:
        try:
            if name in ("fid_star", "fid_looker"):
                if expected_looker is None:
                    expected_looker = con.execute(EXPECTED_LOOKER.replace(
                        "{path}", os.path.join(in_dir, "matches.jsonl"))).fetchdf()
                if name == "fid_looker":
                    got = con.execute(
                        f"SELECT * FROM {_parquet(os.path.join(check_dir, name, 'looker'))}"
                    ).fetchdf()
                else:
                    star = duckdb.connect()
                    for t in STAR_TABLES:
                        star.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                     f"{_parquet(os.path.join(check_dir, name, t))}")
                    got = star.execute(STAR_LOOKER).fetchdf()
                out[name] = compare(expected_looker, got)
            elif name in oracle_sql:
                exp = con.execute(oracle_sql[name]).fetchdf()
                got = con.execute(
                    f"SELECT * FROM {_parquet(os.path.join(check_dir, name, name))}"
                ).fetchdf()
                out[name] = compare(exp, got)
            else:
                out[name] = "no oracle for this call"
        except Exception as e:  # a check that cannot run is a failed check
            out[name] = f"check error: {str(e)[:300]}"
    return out
