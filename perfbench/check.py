"""Correctness checks over the outputs a benchmark JVM leaves behind.

Query results are compared with the registry's oracle SQL run by DuckDB
over the same tables, with the rule of `tools/check_oracle.py`, whose
`close` is imported from there: columns compared by
name, numeric kinds must agree (a DECIMAL/HUGEINT oracle column against
an integer engine column fails), cells equal within 1e-9 relative, and
an order-insensitive retry when only row order differs. The streaming
flow's landed count and dashboard aggregates are recomputed by DuckDB
from the raw fixture; the fare model's test RMSE and scored outputs are
checked against the configured bound.

Each check returns (ok, message); a failed check fails the ops it names.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import close  # noqa: E402  (the engine's own oracle rule)


def _kind(t):
    """check_oracle's numeric-kind rule (nested inside its main there)."""
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT"
    if t.startswith("DECIMAL") or t == "HUGEINT":
        return "WIDE"
    return t


def compare(con, expected_sql, got_dir):
    """Compare an engine result dir with the rows of `expected_sql`."""
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    if not files:
        return False, "no engine output"
    exp = con.sql(expected_sql)
    exp_cols = sorted(exp.columns)
    exp_types = dict(zip(exp.columns, (str(t) for t in exp.types)))
    exp_rows = [tuple(r[exp.columns.index(c)] for c in exp_cols) for r in exp.fetchall()]
    got = con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    got_cols = sorted(got.columns)
    got_types = dict(zip(got.columns, (str(t) for t in got.types)))
    if got_cols != exp_cols:
        return False, f"columns {got_cols} != {exp_cols}"
    bad_types = [c for c in exp_cols if _kind(exp_types[c]) != _kind(got_types[c])]
    if bad_types:
        return False, f"dtype divergence on {bad_types}"
    got_rows = [tuple(r[got.columns.index(c)] for c in got_cols) for r in got.fetchall()]
    if len(got_rows) != len(exp_rows):
        return False, f"rows {len(got_rows)} != {len(exp_rows)}"

    def mismatches(xs, ys):
        return [(i, c) for i, (rx, ry) in enumerate(zip(xs, ys))
                for c, vx, vy in zip(exp_cols, rx, ry) if not close(vx, vy)]

    if not mismatches(got_rows, exp_rows):
        return True, f"{len(got_rows)} rows"
    if not mismatches(sorted(got_rows, key=str), sorted(exp_rows, key=str)):
        return True, f"{len(got_rows)} rows (row order differs)"
    return False, f"cell mismatches {mismatches(got_rows, exp_rows)[:3]}"


def _trips_view(con, fixture_dir):
    """The consumer transform's output, recomputed from the raw fixture."""
    con.execute(f"""CREATE OR REPLACE VIEW trips AS
        SELECT *, hour(pu) AS pickup_hour,
          CASE WHEN hour(pu) >= 6 AND hour(pu) < 12 THEN 'morning'
               WHEN hour(pu) >= 12 AND hour(pu) < 16 THEN 'afternoon'
               WHEN hour(pu) >= 16 AND hour(pu) < 22 THEN 'evening'
               ELSE 'late night' END AS pickup_timeofday,
          strftime(pu, '%A') AS day_name
        FROM (SELECT *, strptime(tpep_pickup_datetime, '%Y-%m-%dT%H:%M:%S') AS pu
              FROM read_parquet('{fixture_dir}/*.parquet'))
        WHERE passenger_count <> 0""")


DASHBOARD_SQL = {
    "time_of_day": """SELECT pickup_timeofday, count(*) AS n, avg(fare_amount) AS avg_fare
        FROM trips GROUP BY 1 ORDER BY 1""",
    "day_name": """SELECT day_name, count(*) AS n FROM trips GROUP BY 1
        ORDER BY n DESC, day_name""",
    "hourly": """SELECT pickup_hour, avg(fare_amount) AS avg_fare,
        avg(trip_distance) AS avg_dist FROM trips GROUP BY 1 ORDER BY 1""",
    "top_routes": """SELECT pulocationid, dolocationid, count(*) AS n FROM trips
        GROUP BY 1, 2 ORDER BY n DESC, pulocationid, dolocationid LIMIT 10""",
    "payment": """SELECT CASE payment_type WHEN 1 THEN 'Credit card' WHEN 2 THEN 'Cash'
          WHEN 3 THEN 'No charge' WHEN 4 THEN 'Dispute' WHEN 5 THEN 'Unknown'
          WHEN 6 THEN 'Voided trip' ELSE 'Other' END AS payment, count(*) AS n
        FROM trips GROUP BY 1 ORDER BY n DESC, payment""",
}


def run_checks(checks, data_dir, tables):
    """Returns [(check, ok, message)] for every entry of the manifest."""
    con = duckdb.connect()
    if data_dir:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    fixture = next((c["dir"] for c in checks if c["kind"] == "fixture"), None)
    if fixture:
        _trips_view(con, fixture)
    out = []
    for c in checks:
        kind = c["kind"]
        try:
            if kind == "fixture":
                continue
            if kind == "query":
                if not c.get("sql"):
                    ok, msg = False, "no oracle SQL registered"
                else:
                    ok, msg = compare(con, c["sql"], c["dir"])
            elif kind == "dashboard":
                ok, msg = compare(con, DASHBOARD_SQL[c["name"]], c["dir"])
            elif kind == "landed":
                want = con.sql("SELECT count(*) FROM trips").fetchone()[0]
                ok, msg = c["rows"] == want, f"landed {c['rows']} of {want}"
            elif kind == "fit":
                ok = c["test_rmse"] is not None and c["test_rmse"] < c["bound"]
                msg = f"test RMSE {c['test_rmse']} (bound {c['bound']})"
            elif kind == "scored":
                ok, msg = c["rows"] == c["expected"], f"scored {c['rows']} of {c['expected']}"
            elif kind == "scored_file":
                n, preds, rmse = con.sql(f"""SELECT count(*), count(prediction),
                    sqrt(avg((prediction - fare_amount) ^ 2))
                    FROM read_parquet('{c['dir']}/*.parquet')""").fetchone()
                ok = n == c["expected"] and preds == n and rmse is not None and rmse < c["bound"]
                msg = f"{n} rows, {preds} predictions, served RMSE {rmse}"
            else:
                ok, msg = False, f"unknown check kind {kind}"
        except Exception as e:  # a check that cannot run is a failed check
            ok, msg = False, f"check error: {e}"
        out.append((c, ok, msg))
    return out
