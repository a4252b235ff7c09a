"""Correctness checks for one benchmark run, made after the harness exits.

Query units: the parquet output of the last warm-up pass against the
unit's `SparkEntry.oracleSql` run in DuckDB over the same input tables,
canonicalised like tools/check_oracle.py (columns sorted by name, rows
sorted by value, cells compared as their string forms).
Olympic pipeline: gold and failure-case tables against the facts the bronze
generator knows. Curation funnel: its stage counts against q68's oracle SQL
over the same documents, and the curated corpus against the dedup count.

Each check is {"name", "ok", "detail"}.
"""
import glob
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _cell(v):
    if v is None or pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def compare(actual, expected):
    """None when equal after canonicalisation, else what differs."""
    s, d = _canon(actual), _canon(expected)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = [_cell(v) for v in s[c]], [_cell(v) for v in d[c]]
        if sv != dv:
            i = next(i for i, (x, y) in enumerate(zip(sv, dv)) if x != y)
            return f"col={c} row={i} spark={sv[i]} duck={dv[i]}"
    return None


def _connect(table_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _result(name, detail):
    return {"name": name, "ok": detail is None, "detail": detail}


def queries(rec, table_dir, out_dir):
    con = _connect(table_dir)
    checks = []
    for unit in rec["units"]:
        sql = rec["oracle_sql"].get(unit)
        if sql is None:
            continue
        files = os.path.join(out_dir, "check", unit, "*.parquet")
        try:
            detail = compare(con.execute(f"SELECT * FROM read_parquet('{files}')").df(),
                             con.execute(sql).df())
        except Exception as e:  # a missing or unreadable output is a failure
            detail = f"{type(e).__name__}: {e}"
        checks.append(_result(f"oracle:{unit}", detail))
    return checks


OLYMPIC_SQL = {
    "dim_athletes": """SELECT count(*) n_rows, count(DISTINCT athlete_id) distinct_key,
        min(athlete_id) min_key, max(athlete_id) max_key,
        count(*) FILTER (NOT athlete_is_alive) not_alive,
        count(*) FILTER (athlete_born_date IS NULL) born_date_null,
        count(*) FILTER (athlete_height_cm IS NULL) height_null,
        count(*) FILTER (athlete_weight_kg IS NULL) weight_null,
        count(*) FILTER (athlete_is_height_imputed) height_imputed,
        count(*) FILTER (athlete_is_weight_imputed) weight_imputed FROM t""",
    "dim_affiliations": """SELECT count(*) n_rows, count(DISTINCT affiliation_id) distinct_key,
        min(affiliation_id) min_key, max(affiliation_id) max_key,
        count(*) FILTER (dim_affiliation_city IS NULL) city_null FROM t""",
    "bridge_athletes_affiliations": "SELECT count(*) n_rows FROM t",
    "dim_games": """SELECT count(*) n_rows, count(DISTINCT game_id) distinct_key,
        min(game_id) min_key, max(game_id) max_key,
        count(*) FILTER (dim_opened_imputed) opened_imputed FROM t""",
    "fct_results": """SELECT count(*) n_rows, count(*) FILTER (m_tied_flag) tied,
        count(*) FILTER (m_medal = 'Gold') gold,
        count(*) FILTER (m_position IS NULL) position_null FROM t""",
}


def olympic(expected, out_dir):
    con = duckdb.connect()
    checks = []
    for table, facts in expected.items():
        layer = "failure_cases" if table.startswith("failure_cases") else "gold"
        files = os.path.join(out_dir, "olympic", table, "*.parquet")
        try:
            con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet('{files}')")
            if layer == "gold":
                cur = con.execute(OLYMPIC_SQL[table])
                got = dict(zip([d[0] for d in cur.description], cur.fetchone()))
            else:
                got = dict(con.execute(
                    "SELECT failed_check, count(*) FROM t GROUP BY 1").fetchall())
            keys = set(facts) | (set(got) if layer == "failure_cases" else set())
            bad = {k: (got.get(k, 0), facts.get(k, 0)) for k in sorted(keys)
                   if got.get(k, 0) != facts.get(k, 0)}
            detail = None if not bad else f"(got, expected): {bad}"
        except Exception as e:
            detail = f"{type(e).__name__}: {e}"
        checks.append(_result(f"olympic:{table}", detail))
    return checks


def curation(rec, docs_dir, out_dir):
    con = _connect(docs_dir)
    funnel = os.path.join(out_dir, "curation", "funnel", "*.parquet")
    curated = os.path.join(out_dir, "curation", "curated", "*.parquet")
    checks = []
    try:
        got = con.execute(f"SELECT stage, n_docs FROM read_parquet('{funnel}')").df()
        detail = compare(got, con.execute(rec["oracle_sql"]["curation"]).df())
    except Exception as e:
        detail = f"{type(e).__name__}: {e}"
    checks.append(_result("oracle:curation_funnel", detail))
    try:
        n_cur = con.execute(f"SELECT count(*) FROM read_parquet('{curated}')").fetchone()[0]
        n_dedup = con.execute(
            f"SELECT n_docs FROM read_parquet('{funnel}') WHERE stage = '4_dedup'").fetchone()[0]
        detail = None if n_cur == n_dedup else f"curated rows {n_cur} != 4_dedup {n_dedup}"
    except Exception as e:
        detail = f"{type(e).__name__}: {e}"
    checks.append(_result("curation:corpus_rows", detail))
    return checks


def run(rec, facts, out_dir):
    checks = []
    if "tables" in facts:
        checks += queries(rec, facts["tables"], out_dir)
    if "olympic" in facts:
        checks += olympic(facts["olympic"], out_dir)
    if "curation" in facts:
        checks += curation(rec, facts["curation"], out_dir)
    return checks
