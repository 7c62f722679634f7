"""Independent expected outputs and output checks, computed with DuckDB.

Nothing here calls the program under test: the expected values of the
daily pipeline are derived from the generated raw documents with plain SQL
that restates the reference models (stg_weather_raw, the four fact models
and the two dims); the query catalog's results are compared with each
query's oracle SQL (`SparkEntry.oracleSql`) by the rules of
tools/oracle_check.py.
"""
import glob
import json
import os
import sys

import duckdb

import gen

FACTS = ["fact_weather_params_history", "fact_weather_params_forecast",
         "fact_sun_times_history", "fact_sun_times_forecast"]

_DOC_COLUMNS = (
    "{city: 'VARCHAR', country: 'VARCHAR', latitude: 'DOUBLE', longitude: 'DOUBLE', "
    "weather: 'STRUCT(dateGenerated VARCHAR, data STRUCT(parameter VARCHAR, "
    "coordinates STRUCT(lat DOUBLE, lon DOUBLE, dates STRUCT(date VARCHAR, value JSON)[])[])[])'}"
)


def _flat_readings(con, weather_dir):
    """One row per generated reading: (run_idx, city, generated, parameter, ts)."""
    con.execute(f"""
        CREATE OR REPLACE TABLE docs AS
        SELECT CAST(regexp_extract(filename, 'run_(\\d+)\\.json', 1) AS INT) AS run_idx,
               city, country, weather
        FROM read_json('{weather_dir}/run_*.json', format = 'newline_delimited',
                       columns = {_DOC_COLUMNS}, filename = true)""")
    con.execute("""
        CREATE OR REPLACE TABLE l1 AS
        SELECT run_idx, city, country,
               strptime(weather.dateGenerated, '%Y-%m-%dT%H:%M:%SZ') AS generated,
               unnest(weather.data) AS p
        FROM docs""")
    con.execute("""
        CREATE OR REPLACE TABLE l2 AS
        SELECT run_idx, city, country, generated, p.parameter AS parameter,
               unnest(p.coordinates) AS c
        FROM l1""")
    con.execute("""
        CREATE OR REPLACE TABLE l3 AS
        SELECT run_idx, city, country, generated, parameter, unnest(c.dates) AS dv
        FROM l2""")
    con.execute("""
        CREATE OR REPLACE TABLE flat AS
        SELECT run_idx, city, country, generated, parameter,
               strptime(dv.date, '%Y-%m-%dT%H:%M:%SZ') AS ts
        FROM l3""")


def etl_expected(input_dir, seed, n_cities, history, n_days):
    """Write expected.tsv: sizes plus, for each day from the history's last
    run date on, the fact rows that day's marts build appends."""
    con = duckdb.connect()
    _flat_readings(con, os.path.join(input_dir, "weather"))
    n_docs, n_readings = con.execute(
        "SELECT count(DISTINCT (run_idx, city)), count(*) FROM flat").fetchone()
    assert n_docs == n_cities * n_days, (n_docs, n_cities, n_days)
    per_doc = n_readings // n_docs
    assert per_doc * n_docs == n_readings
    n_params = con.execute("SELECT count(DISTINCT parameter) FROM flat").fetchone()[0]
    sun = ", ".join(f"'{p}'" for p in gen.SUN_PARAMS)
    lines = [f"cities\t{n_cities}", f"history\t{history}", f"days\t{n_days}",
             f"readings_per_doc\t{per_doc}", f"params\t{n_params}"]
    for d, run in enumerate(gen.run_dates(seed, n_days)):
        if d < history - 1:
            continue
        now = run.strftime("%Y-%m-%d %H:%M:%S")
        rows = dict(((s, h), n) for s, h, n in con.execute(f"""
            WITH ranked AS (
              SELECT parameter, ts, generated,
                     row_number() OVER (PARTITION BY city, parameter, ts
                                        ORDER BY generated DESC) AS rn
              FROM flat WHERE run_idx <= {d})
            SELECT parameter IN ({sun}) AS sun, ts <= generated AS hist, count(*)
            FROM ranked
            WHERE rn = 1 AND ts BETWEEN TIMESTAMP '{now}' - INTERVAL 2 DAY
                                    AND TIMESTAMP '{now}' + INTERVAL 7 DAY
            GROUP BY ALL""").fetchall())
        counts = [rows.get((False, True), 0), rows.get((False, False), 0),
                  rows.get((True, True), 0), rows.get((True, False), 0)]
        lines.append("\t".join(["day", str(d), now] + [str(c) for c in counts]))
    with open(os.path.join(input_dir, "expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return lines


def etl_outputs(input_dir, etl_dir, last_day):
    """Check the tables on disk after the run's last day; returns a list of
    failures. The marts were built once on the history, then once a day."""
    exp = {}
    days = []
    with open(os.path.join(input_dir, "expected.tsv")) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if parts[0] != "day":
                exp[parts[0]] = int(parts[1])
            elif int(parts[1]) <= last_day:
                days.append([int(x) for x in parts[3:]])
    con = duckdb.connect()
    fails = []

    def rows(path, sql="SELECT count(*) FROM t"):
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not files:
            return None
        listed = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet([{listed}], "
                    "hive_partitioning = false, union_by_name = true)")
        return con.execute(sql).fetchone()

    want = exp["cities"] * (last_day + 1) * exp["readings_per_doc"]
    got = rows(os.path.join(etl_dir, "staging"),
               "SELECT count(*), count(DISTINCT (file_path, parameter, reading_datetime)) FROM t")
    if got != (want, want):
        fails.append(f"staging rows (all, distinct key) = {got}, expected {want} generated readings")
    for i, fact in enumerate(FACTS):
        want = sum(d[i] for d in days)
        got = rows(os.path.join(etl_dir, "marts", fact))
        if got is None or got[0] != want:
            fails.append(f"{fact} holds {got and got[0]} rows, expected {want} over {len(days)} builds")
    for dim, key, n in [("dim_location", "location_key", exp["cities"]),
                        ("dim_weather_condition", "condition_key", exp["params"])]:
        got = rows(os.path.join(etl_dir, "marts", dim),
                   f"SELECT count(*), count(DISTINCT {key}), count({key}) FROM t")
        if got != (n, n, n):
            fails.append(f"{dim} (rows, distinct keys, non-null keys) = {got}, expected {n} unique keys")
    return fails


def catalog_outputs(tables_dir, out_dir):
    """Compare each query's collected result (``out_dir/<query>/``) with its
    oracle SQL run by DuckDB on the same tables; returns a list of failures.
    The rules are tools/oracle_check.py's: the same column names, no
    integer-vs-HUGEINT/DECIMAL type divergence, the same row count, and the
    same values row by row in order, columns aligned by name."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                    "tools"))
    from oracle_check import TABLES, norm
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    ints = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT")
    fails = []
    for name in sorted(oracles):
        try:
            sp_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            or_rel = con.sql(oracles[name])
            sp_cols, or_cols = list(sp_rel.columns), list(or_rel.columns)
            sp_types, or_types = dict(zip(sp_cols, map(str, sp_rel.types))), dict(zip(or_cols, map(str, or_rel.types)))
            sp_rows, or_rows = sp_rel.fetchall(), or_rel.fetchall()
        except Exception as e:  # an unreadable result or a failing oracle fails the query
            fails.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sorted(sp_cols) != sorted(or_cols):
            fails.append(f"{name}: columns {sorted(sp_cols)} != oracle {sorted(or_cols)}")
            continue
        div = [c for c in sp_cols if sp_types[c] in ints and sp_types[c] != or_types[c]
               and (or_types[c] in ("HUGEINT", "UHUGEINT") or or_types[c].startswith("DECIMAL"))]
        if div:
            fails.append(f"{name}: integer type divergence on {div}")
            continue
        if len(sp_rows) != len(or_rows):
            fails.append(f"{name}: {len(sp_rows)} rows != oracle {len(or_rows)}")
            continue
        cols = sorted(sp_cols)
        sp = [tuple(norm(r[sp_cols.index(c)]) for c in cols) for r in sp_rows]
        oc = [tuple(norm(r[or_cols.index(c)]) for c in cols) for r in or_rows]
        if sp != oc:
            i = next(i for i, (a, b) in enumerate(zip(sp, oc)) if a != b)
            order = " (same multiset: row order differs)" if sorted(sp) == sorted(oc) else ""
            fails.append(f"{name}: row {i} {sp[i]} != oracle {oc[i]}{order}")
    if not oracles:
        fails.append("no query results to check")
    return fails
