"""Output checks of the benchmark, run after the JVM has exited.

Every check compares what the engine produced against an independent
computation in DuckDB over the same files:

* warehouse tables (hospital_load, dashboard): row counts equal the
  generator's planted accounting and every table's logical key is unique;
* dashboard: each distinct (query, parameters) result equals the
  reference SQL below, run over the warehouse parquet;
* corpus_build: each gate's rows equal the gate's own oracle SQL
  (`SparkEntry.oracleSql`) run over the generated `documents` parquet.

Each function returns a list of failure messages (empty when all pass).
"""
import datetime
import decimal

import duckdb

TABLE_KEYS = {
    "hospitals": ["hospital_pk"],
    "hospital_locations": ["hospital_fk"],
    "hospital_bed_information": ["hospital_fk", "collection_week"],
    "hospital_quality_information": ["facility_id", "data_date"],
}


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _scan(path):
    return f"read_parquet('{path}/*.parquet')"


def norm(v):
    """One value in a form both engines agree on."""
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10]
    if isinstance(v, bool) or v is None or isinstance(v, (int, float, str)):
        return v
    return str(v)


def _rows(rows):
    return [tuple(norm(v) for v in r) for r in rows]


def warehouse(path, expected):
    """Planted row counts and unique logical keys of the four tables."""
    con = _connect()
    fails = []
    for table, keys in TABLE_KEYS.items():
        src = _scan(f"{path}/{table}")
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT ({', '.join(keys)})) FROM {src}").fetchone()
        if n != expected[table]:
            fails.append(f"{table}: {n} rows, planted {expected[table]}")
        if distinct != n:
            fails.append(f"{table}: {n - distinct} rows share a key")
    return fails


def _dsum(c):
    return f"CAST(sum(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)"


def _ratio(num, den):
    return f"{_dsum(num)} / {_dsum(den)}"


_SUMMARY = [
    ("all_adult_hospital_beds_7_day_avg", "available_adult_beds"),
    ("all_pediatric_inpatient_beds_7_day_avg", "available_pediatric_beds"),
    ("all_adult_hospital_inpatient_bed_occupied_7_day_coverage", "used_adult_beds"),
    ("all_pediatric_inpatient_bed_occupied_7_day_avg", "used_pediatric_beds"),
    ("inpatient_beds_used_covid_7_day_avg", "used_beds_covid"),
]
_SUMS = ", ".join(
    f"CAST(round(sum(CAST({c} AS DECIMAL(38,6))), 2) AS DOUBLE) AS {a}" for c, a in _SUMMARY)
_USED = ("all_adult_hospital_inpatient_bed_occupied_7_day_coverage + "
         "all_pediatric_inpatient_bed_occupied_7_day_avg")
_AVAIL = "all_adult_hospital_beds_7_day_avg + all_pediatric_inpatient_beds_7_day_avg"


def reference_sql(fn, p):
    """The reference dashboard's nine queries (SURVEY.md §2: A1-A9 over
    joins J1-J4) on tables beds, quality, hospitals and locations."""
    week = f"DATE '{p.get('week', '')}'"
    if fn == "weeklyRecords":       # A1
        return f"SELECT count(*) AS n_records FROM beds WHERE collection_week = {week}"
    if fn == "weeklyRecordsPrior":  # A2
        return (f"SELECT collection_week, count(*) AS n_records FROM beds "
                f"WHERE collection_week < {week} GROUP BY 1 ORDER BY 1")
    if fn == "bedSummaryAt":        # A3
        return f"SELECT {_SUMS} FROM beds WHERE collection_week = {week}"
    if fn == "bedSummaryRecent4":   # A4
        return (f"SELECT * FROM (SELECT collection_week, {_SUMS} FROM beds GROUP BY 1 "
                f"ORDER BY 1 DESC LIMIT 4) ORDER BY collection_week")
    if fn == "ratingBedUse":        # J1 + A5
        return (f"SELECT q.hospital_overall_rating, {_ratio(_USED, _AVAIL)} "
                f"AS fraction_of_beds_in_use FROM quality q JOIN beds b "
                f"ON q.facility_id = b.hospital_fk GROUP BY 1 ORDER BY 1 NULLS FIRST")
    if fn == "totalBedUsage":       # A6
        return (f"SELECT collection_week, {_dsum(_USED + ' + icu_beds_used_7_day_avg')} "
                f"AS all_cases, {_dsum('inpatient_beds_used_covid_7_day_avg')} AS covid_cases "
                f"FROM beds WHERE collection_week <= {week} GROUP BY 1 ORDER BY 1")
    if fn == "emergencyTop20":      # J2 + A7
        return ("SELECT l.state, count(*) AS count FROM quality q "
                "JOIN hospitals h ON q.facility_id = h.hospital_pk "
                "JOIN locations l ON h.hospital_pk = l.hospital_fk "
                "WHERE q.emergency_services = TRUE GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20")
    if fn == "ownershipBedUse":     # J3 + A8
        owner = p["owner"].replace("'", "''")
        return (f"SELECT q.hospital_ownership, b.collection_week, {_ratio(_USED, _AVAIL)} "
                f"AS fraction_of_beds_in_use FROM quality q JOIN beds b "
                f"ON q.facility_id = b.hospital_fk WHERE q.hospital_ownership = '{owner}' "
                f"GROUP BY 1, 2 ORDER BY 2")
    if fn == "topBottomStates":     # J4 + A9, top and bottom 10
        return (f"""WITH j AS (SELECT q.hospital_overall_rating AS r, l.state
                    FROM quality q JOIN locations l ON q.facility_id = l.hospital_fk
                    WHERE q.data_date = DATE '{p['date']}' AND q.hospital_overall_rating
                    IS NOT NULL AND l.state IS NOT NULL),
                 a AS (SELECT state, {_dsum('r')} / count(r) AS avg_rating FROM j GROUP BY 1)
                 SELECT * FROM (
                   (SELECT state, avg_rating, 'top' AS side FROM a
                    ORDER BY avg_rating DESC, state LIMIT 10)
                   UNION ALL
                   (SELECT state, avg_rating, 'bottom' AS side FROM a
                    ORDER BY avg_rating, state LIMIT 10))
                 ORDER BY side, avg_rating DESC, state""")
    raise ValueError(f"no reference SQL for {fn}")


def dashboard(path, results):
    """Indices of the results that differ from the reference SQL, with messages."""
    con = _connect()
    for view, table in [("beds", "hospital_bed_information"),
                        ("quality", "hospital_quality_information"),
                        ("hospitals", "hospitals"), ("locations", "hospital_locations")]:
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM {_scan(f'{path}/{table}')}")
    bad, fails = set(), []
    for i, r in enumerate(results):
        cur = con.execute(reference_sql(r["fn"], r["params"]))
        cols = [d[0] for d in cur.description]
        want = _rows(cur.fetchall())
        got = _rows(r["rows"])
        if cols != r["columns"] or want != got:
            bad.add(i)
            fails.append(f"{r['fn']}{r['params']}: columns {r['columns']} vs {cols}, "
                         f"first rows {got[:2]} vs {want[:2]}")
    return bad, fails


def corpus(documents, gates):
    """Each gate's rows against its oracle SQL over the same documents."""
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {_scan(documents)}")
    fails = []
    for g in gates:
        if not g.get("oracle_sql"):
            fails.append(f"{g['query']}: no oracle SQL")
            continue
        cur = con.execute(g["oracle_sql"])
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda k: cols[k])
        want = sorted((tuple(r[k] for k in order) for r in _rows(cur.fetchall())), key=repr)
        spark_order = sorted(range(len(g["columns"])), key=lambda k: g["columns"][k])
        got = sorted((tuple(r[k] for k in spark_order) for r in _rows(g["rows"])), key=repr)
        if sorted(cols) != sorted(g["columns"]) or want != got:
            diff = [x for x in got if x not in want][:2]
            fails.append(f"{g['query']}: {len(got)} rows vs oracle {len(want)}; "
                         f"unmatched {diff}")
    return fails
