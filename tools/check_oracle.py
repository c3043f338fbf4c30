#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py [--tolerant] <verify_out_dir> <sf_dir> [allow_empty_csv]

Loads each <name>/ parquet result written by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB (tables registered
as views over the same parquet), and compares: schema (column names),
row count, and the values of rows sorted by all columns.

DEFAULT is BIT-EXACT float compare (float64 payload equality,
NaN==NaN), mirroring the driver's hash gate — the r16 verdict's
strict protocol. --tolerant opts into the legacy atol=1.5e-6 mode,
which is exactly what masked the r15 q_ann_mmr half-grid rounding
defect (local "pass" while the driver's bit-exact hash failed); use
it only to triage WHERE a strict mismatch is a pure-rounding class,
never as the gate. --strict is still accepted (now a no-op).

DuckDB runs with an explicit memory limit, thread count and spill
directory (DUCKDB_CONFIG); an oracle that runs out of memory under it
runs once more with its CTEs materialized (materialize_ctes) and its
line says so. Before, the tool peaked near 10.7 GB RSS at sf0.1, enough
for the host's OOM killer to end it beside a Spark JVM. The summary
line prints the tool's peak RSS.
"""
import sys, json, glob, os, re, resource, shutil, tempfile
import duckdb
import pandas as pd
import numpy as np

DUCKDB_CONFIG = {"memory_limit": "4GB", "threads": 2}

def materialize_ctes(sql):
    """`sql` with each `name AS (SELECT|WITH|VALUES|FROM|(` CTE marked
    MATERIALIZED (a named `WINDOW w AS (PARTITION ...` is not one).
    DuckDB 1.0 inlines a CTE at every reference, so a chain of CTEs that
    each read the one before recomputes the first ones once per
    reference path: q_pagerank3's oracle failed at sf0.1 even under a
    10GB limit ("failed to pin block"), and materialized it ran in 2 s
    within ~0.3 GB. It is the fallback, not the default: materialized,
    DuckDB 1.0 returned a different q_ace_corr (maxcorr -0.001925 at
    sf0.1, against -0.021645 inlined and from Spark)."""
    return re.sub(r"\b(\w+) AS \((?=\s*(SELECT|WITH|VALUES|FROM|\())",
                  r"\1 AS MATERIALIZED (", sql, flags=re.I)

def oracle_rows(con, sql):
    """The oracle's result and a note for its line."""
    try:
        return con.sql(sql).df(), ""
    except duckdb.OutOfMemoryException:
        return con.sql(materialize_ctes(sql)).df(), " (CTEs materialized)"

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes a bit
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    argv = [a for a in sys.argv[1:] if a not in ("--strict", "--tolerant")]
    strict = "--tolerant" not in sys.argv[1:]
    out_dir, sf_dir = argv[0], argv[1]
    # optional third positional: comma list of queries allowed to be
    # empty (candidate-pair queries at sf0.001 — mirrors EngineSpec's
    # list); everything else empty-vs-empty FAILS (vacuity guard)
    allow_empty = set(argv[2].split(",")) if len(argv) > 2 else set()
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    spill = tempfile.mkdtemp(prefix="check_oracle_", dir="/tmp")
    try:
        n_fail = check(out_dir, sf_dir, strict, allow_empty, oracle, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    sys.exit(1 if n_fail else 0)

def check(out_dir, sf_dir, strict, allow_empty, oracle, spill):
    con = duckdb.connect(config=dict(DUCKDB_CONFIG, temp_directory=spill))
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    names = sorted([os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*"))
                    if os.path.isdir(p)])
    n_pass = n_fail = n_noracle = 0
    for name in names:
        got = pd.read_parquet(os.path.join(out_dir, name))
        if name not in oracle:
            status = "NO-ORACLE rows=%d" % len(got)
            n_noracle += 1
            print(f"{name:28s} {status}")
            continue
        try:
            exp, note = oracle_rows(con, oracle[name])
        except Exception as e:
            print(f"{name:28s} ORACLE-SQL-ERROR: {str(e)[:160]}")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"{name:28s} SCHEMA-MISMATCH spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"{name:28s} ROWS-MISMATCH spark={len(g)} duck={len(e)}{note}")
            n_fail += 1
            continue
        eq = True
        for c in g.columns:
            a, b = g[c].values, e[c].values
            if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(e[c].dtype, np.floating):
                af, bf = a.astype(float), b.astype(float)
                if strict:
                    # the driver's gate hashes bit-exact canonical rows;
                    # replicate: exact float64 equality, NaN == NaN
                    mism = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
                else:
                    # legacy tolerance "matched to the round(...,6)
                    # convention" — masks half-grid rounding divergence
                    # (the r15 q_ann_mmr failure class); gate runs strict
                    mism = ~np.isclose(af, bf, rtol=0, atol=1.5e-6, equal_nan=True)
                ok = not mism.any()
            else:
                mism = (pd.Series(a).astype(str) != pd.Series(b).astype(str)).values
                ok = not mism.any()
            if not ok:
                i = int(np.argmax(mism))
                bad = f"col={c} row={i} spark={a[i]!r} duck={b[i]!r}"
                print(f"{name:28s} VALUE-MISMATCH {bad}{note}")
                eq = False
                break
        if eq and len(g) == 0 and name in allow_empty:
            print(f"{name:28s} PASS rows=0 (allow-empty)")
            n_pass += 1
        elif eq and len(g) == 0:
            # Vacuity guard (round-12): empty==empty hashes green but
            # checks nothing — a query scoped to data that doesn't exist
            # (the r11 ship-year-1994 bug) must FAIL here, not pass.
            print(f"{name:28s} VACUOUS-EMPTY both engines returned 0 rows")
            n_fail += 1
        elif eq:
            print(f"{name:28s} PASS rows={len(g)}{note}")
            n_pass += 1
        else:
            n_fail += 1
    con.close()
    # ru_maxrss is in KiB on Linux
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_noracle} no-oracle == "
          f"(peak RSS {peak:.0f} MiB)")
    return n_fail

if __name__ == "__main__":
    main()
