"""Correctness checks of one run, untimed.

- Query workloads: each query's oracle SQL (the engine's
  `SparkEntry.oracleSql`, the DuckDB twin every query is hash-checked
  against) runs in DuckDB over the same generated inputs, and its rows are
  compared with the query's parquet output the way tools/check_oracle.py
  compares them: columns sorted by name, rows sorted, float columns equal
  exactly (NaN equal to NaN), other columns equal as strings, and a
  float-versus-integer column pair is a mismatch. As there, a decimal
  column in the output is a failure of its own: the driver hashes Spark
  decimals without their ".0", so outputs must be int, float, string or
  date.
- medallion: the per-stage audit counts against the counts the generator
  injected, the serve top-k recomputed in DuckDB from the landing CSV, the
  time-travel, countFast and pruned-scan reads against the generator's
  replay of the table steps, and the history length.

Every function returns a list of (operation, message) mismatches; empty
is ok.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first")
    return df.reset_index(drop=True)


def compare(got, want):
    """None when the frames agree, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    bad = []
    for c in got.columns:
        a, b = got[c], want[c]
        fa, fb = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        if fa != fb:
            bad.append(f"{c} (dtype {a.dtype} vs {b.dtype})")
        elif fa:
            av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                d = np.nanmax(np.abs(np.where(eq, 0, av - bv)))
                bad.append(f"{c} (maxdiff={d:.3e}, n={int((~eq).sum())})")
        else:
            av, bv = a.astype(str), b.astype(str)
            if not (av == bv).all():
                i = int(np.argmax((av != bv).to_numpy()))
                bad.append(f"{c} (row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r})")
    return "value mismatch: " + "; ".join(bad) if bad else None


def tables_con(inputs):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    return con


def check_queries(inputs, results, oracles, names):
    con = tables_con(inputs)
    bad = []
    for n in names:
        files = glob.glob(os.path.join(results, f"{n}.parquet", "*.parquet"))
        if not files:
            bad.append((n, "no output"))
            continue
        if n not in oracles:
            bad.append((n, "no oracle"))
            continue
        src = f"read_parquet('{results}/{n}.parquet/*.parquet')"
        dec = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}")
               .fetchall() if r[1].startswith("DECIMAL")]
        if dec:
            bad.append((n, f"decimal128 on the wire: {dec}"))
            continue
        try:
            got = con.execute(f"SELECT * FROM {src}").df()
            want = con.execute(oracles[n]).df()
        except Exception as e:  # an oracle error is a failed check
            bad.append((n, f"oracle error: {e}"[:300]))
            continue
        why = compare(got, want)
        if why:
            bad.append((n, why))
    return bad


def serve_topk_sql(csv_path, years, k):
    """The serve step (clean, unpivot, exact average, top-k per indicator)
    written directly in DuckDB over the landing CSV. Spark's unpivot keeps
    null cells and the average divides by every cell, so the divisor is the
    number of year columns (each curated row is one country-indicator)."""
    cols = ", ".join(f'"{y}"' for y in years)
    return f"""
    WITH raw AS (
      SELECT DISTINCT * FROM read_csv('{csv_path}', header = true,
        all_varchar = true, quote = '"', escape = '"')
      WHERE NOT ({' AND '.join(f'"{c}" IS NULL' for c in
                 ['Country Name', 'Country Code', 'Indicator Name',
                  'Indicator Code'] + [str(y) for y in years])})),
    cur AS (
      SELECT * FROM raw WHERE length("Country Code") = 3
        AND NOT contains("Indicator Code", ' ')),
    long AS (
      UNPIVOT cur ON {cols} INTO NAME year VALUE v),
    agg AS (
      SELECT "Indicator Code" AS Indicator_Code,
             "Country Code" AS Country_Code,
             CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(27, 6))) AS DOUBLE)
               / {len(years)} AS avg_Indicator_Value
      FROM long GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY Indicator_Code
        ORDER BY avg_Indicator_Value DESC, Country_Code ASC) AS rk
      FROM agg)
    SELECT Indicator_Code, Country_Code, avg_Indicator_Value
    FROM ranked WHERE rk <= {int(k)}"""


def check_medallion(m, truth, landing, k):
    """`m` holds the values the harness read back from its own lake."""
    bad = []
    for key, op in (("wdi_audit", "curate_wdi"), ("co2_audit", "curate_co2")):
        got = [list(x) for x in m.get(key) or []]
        if got != truth[key]:
            bad.append((op, f"audit {got} vs injected {truth[key]}"))
    v = truth["versioned"]
    want_asof = {"1": v["rows_at_version"]["1"],
                 "4": v["rows_at_version"]["4"]}
    if m.get("asof_rows") != want_asof:
        bad.append(("vt_asof", f"{m.get('asof_rows')} vs {want_asof}"))
    if m.get("count_fast") != v["rows_at_version"]["5"]:
        bad.append(("vt_count_fast",
                    f"{m.get('count_fast')} vs {v['rows_at_version']['5']}"))
    if m.get("scan_rows") != v["scan_rows"]:
        bad.append(("vt_scan_pruned", f"{m.get('scan_rows')} vs {v['scan_rows']}"))
    if m.get("rejected_append_threw") is not True:
        bad.append(("vt_append_rejected", "mismatched batch was accepted"))
    if m.get("history_rows") != 9:
        bad.append(("vt_history", f"{m.get('history_rows')} versions vs 9"))
    path = m.get("serve_path")
    if not path:
        bad.append(("serve_wdi", "no output"))
    else:
        con = duckdb.connect()
        con.execute("SET threads = 2")
        got = con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        want = con.execute(serve_topk_sql(
            os.path.join(landing, "wdi", "WDIData.csv"), truth["years"], k)).df()
        why = compare(got, want)
        if why:
            bad.append(("serve_wdi", why))
    return bad
