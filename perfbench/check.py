"""Output checks that never run the code under test.

Before a run, the expected rows of the workload's full-size operation are
written as parquet; the run fingerprints them once and compares every
operation's output with that fingerprint (api_small: per call, against the
rows of the call's batch). Forward rows come from the repository's DuckDB
`fwd_geocode` oracle SQL (dumped from the program at build time) run over the
generated documents table, with `place_name` formed from the gazetteer.
Reverse rows come from a brute-force reference in this file: half-open
rectangle containment per feature type (lowest id wins), and for points
inside no feature the nearest place by haversine within the first Chebyshev
ring of z8 cells (radius 2, 4, then 8) that holds any place center. Values
compare exactly. After a mismatch, `diagnose` lists the differing rows.
"""
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

PI_180 = "0.017453292519943295"


def connect(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET enable_progress_bar = false")
    return con


def tile_sql(z, lon, lat):
    n = f"{1 << z}.0"
    x = f"CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)"
    y = (f"CAST(floor({n} * (1.0 - ln(tan(({lat}) * pi() / 180.0) + "
         f"1.0 / cos(({lat}) * pi() / 180.0)) / pi()) / 2.0) AS BIGINT)")
    return x, y


def haversine_sql(lon1, lat1, lon2, lat2):
    p = PI_180
    return (f"(2.0 * 6371.0088 * asin(least(1.0, sqrt("
            f"pow(sin((({lat2}) - ({lat1})) * {p} / 2), 2) + "
            f"cos(({lat1}) * {p}) * cos(({lat2}) * {p}) * "
            f"pow(sin((({lon2}) - ({lon1})) * {p} / 2), 2)))))")


def forward_oracle(con, data, oracle_dir):
    """Expected forward rows, place names included."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data}/documents.parquet/*.parquet')")
    with open(os.path.join(oracle_dir, "oracle_fwd.sql")) as f:
        sql = f.read()
    with open(os.path.join(oracle_dir, "gazetteer.json")) as f:
        names = {int(k): v for k, v in json.load(f).items()}
    rows = con.execute(f"SELECT doc_id, feature_id, typ, relev, cell, ctx, sd, rank "
                       f"FROM ({sql})").fetchall()
    out = []
    for r in rows:
        name = names[r[1]]
        out.append(tuple(r) + (name if r[5] == -1 else f"{name}, {names[r[5]]}",))
    return out


def reverse_oracle(con, data):
    """Expected Geocoder.reverse rows over the generated points."""
    levels = ["continent", "country", "place"]
    for t in levels:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    con.execute(f"CREATE OR REPLACE VIEW points AS SELECT * FROM "
                f"read_parquet('{data}/points.parquet/*.parquet')")
    # containment, joined on whole-degree buckets: a point inside a rect
    # lies in one of the buckets the rect overlaps
    for t in levels:
        con.execute(f"""CREATE OR REPLACE TEMP TABLE {t}_b AS
            SELECT *, unnest(range(CAST(floor(south) AS BIGINT),
                                   CAST(floor(north) AS BIGINT) + 1)) AS by
            FROM (SELECT *, unnest(range(CAST(floor(west) AS BIGINT),
                                         CAST(floor(east) AS BIGINT) + 1)) AS bx FROM {t})""")
    pip = " UNION ALL ".join(
        f"SELECT p.event_id, '{t}' AS typ, min(f.feature_id) AS feature_id "
        f"FROM points p JOIN {t}_b f ON CAST(floor(p.elon) AS BIGINT) = f.bx "
        f"AND CAST(floor(p.elat) AS BIGINT) = f.by "
        f"AND p.elon >= f.west AND p.elon < f.east "
        f"AND p.elat >= f.south AND p.elat < f.north GROUP BY p.event_id" for t in levels)
    px, py = tile_sql(8, "elon", "elat")
    fx, fy = tile_sql(8, "flon", "flat")
    sql = f"""
    WITH pip AS MATERIALIZED ({pip}),
    lone AS (SELECT event_id, elon, elat, {px} AS x, {py} AS y FROM points
             WHERE event_id NOT IN (SELECT event_id FROM pip)),
    -- place centers, copied into every 4-cell bucket within 8 cells
    pc AS (SELECT *, unnest(range(y // 4 - 2, y // 4 + 3)) AS by
           FROM (SELECT feature_id, flon, flat, {fx} AS x, {fy} AS y,
                        unnest(range({fx} // 4 - 2, {fx} // 4 + 3)) AS bx
                 FROM place)),
    near AS MATERIALIZED (
      SELECT u.event_id, u.elon, u.elat, c.feature_id, c.flon, c.flat,
             CASE WHEN greatest(abs(u.x - c.x), abs(u.y - c.y)) <= 2 THEN 2
                  WHEN greatest(abs(u.x - c.x), abs(u.y - c.y)) <= 4 THEN 4
                  ELSE 8 END AS ring
      FROM lone u JOIN pc c ON u.x // 4 = c.bx AND u.y // 4 = c.by
        AND abs(u.x - c.x) <= 8 AND abs(u.y - c.y) <= 8),
    first_ring AS (SELECT event_id, min(ring) AS ring FROM near GROUP BY event_id),
    best AS (
      SELECT n.event_id, n.feature_id, row_number() OVER (
        PARTITION BY n.event_id ORDER BY
        {haversine_sql('n.elon', 'n.elat', 'n.flon', 'n.flat')}, n.feature_id) AS rn
      FROM near n JOIN first_ring r ON n.event_id = r.event_id AND n.ring = r.ring)
    SELECT event_id, typ, feature_id, 'pip' AS via FROM pip
    UNION ALL
    SELECT event_id, 'place', feature_id, 'knn' FROM best WHERE rn = 1"""
    return [tuple(r) for r in con.execute(sql).fetchall()]


KINDS = {"fwd_bulk": ["fwd"], "fwd_job": ["fwd"], "rev_bulk": ["rev"],
         "api_small": ["fwd", "rev"]}
SCHEMAS = {
    "fwd": pa.schema([("doc_id", pa.int64()), ("feature_id", pa.int64()), ("typ", pa.string()),
                      ("relev", pa.float64()), ("cell", pa.int64()), ("ctx", pa.int64()),
                      ("sd", pa.float64()), ("rank", pa.int64()), ("place_name", pa.string())]),
    "rev": pa.schema([("event_id", pa.int64()), ("typ", pa.string()),
                      ("feature_id", pa.int64()), ("via", pa.string())]),
}


def oracle_rows(kind, con, data, oracle_dir):
    return forward_oracle(con, data, oracle_dir) if kind == "fwd" else reverse_oracle(con, data)


def write_expected(workload, data, oracle_dir, work):
    """Writes `expected-<kind>.parquet` into `work` for every kind of call
    the workload makes; the run compares each operation's output with it."""
    con = connect(os.path.join(work, "duckdb-tmp"))
    sizes = {}
    for kind in KINDS[workload]:
        rows = oracle_rows(kind, con, data, oracle_dir)
        schema = SCHEMAS[kind]
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                                schema=schema),
                       os.path.join(work, f"expected-{kind}.parquet"))
        sizes[kind] = len(rows)
    return sizes


def read_rows(pattern, cols):
    con = duckdb.connect()
    return [tuple(r) for r in con.execute(
        f"SELECT {', '.join(cols)} FROM read_parquet('{pattern}', hive_partitioning = false)"
    ).fetchall()]


def diff(expected, actual):
    """None when the row multisets are equal, else a short description."""
    e, a = sorted(expected, key=repr), sorted(actual, key=repr)
    if e == a:
        return None
    se, sa = set(e), set(a)
    return {"expected_rows": len(e), "actual_rows": len(a),
            "missing": [list(map(str, r)) for r in e if r not in sa][:3],
            "unexpected": [list(map(str, r)) for r in a if r not in se][:3]}


def diagnose(work, mismatch):
    """What differs between the expected rows and the output of the first
    operation that did not match them. `mismatch` comes from the run's
    result: the call kind, the compared columns, the batch's ids (small
    calls only) and the directory the output was written to."""
    cols = mismatch["cols"]
    actual = read_rows(f"{mismatch['dir']}/*.parquet", cols)
    expected = read_rows(os.path.join(work, f"expected-{mismatch['kind']}.parquet"), cols)
    ids = set(mismatch.get("ids") or [])
    if ids:
        expected = [r for r in expected if r[0] in ids]
    return diff(expected, actual)
