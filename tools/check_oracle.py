#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run Verify's
oracle_sql.json in DuckDB over the same parquet tables and compare with
the Spark result parquet, column-sorted by name, exact values.

Usage: check_oracle.py <sfDir> <verifyOutDir>
(Driver-side tooling only — the Scala library has no dependency on this.)
"""
import sys, json, math, re, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision repr — exact compare
    if isinstance(v, (list, tuple)) or v.__class__.__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)

def frame(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(canon(r[i]) for i in order) for r in rows]

# the DRIVER compares through pandas, which renders DuckDB HUGEINT and
# DECIMAL columns as float64/object while Spark's BIGINT is int64 —
# repr()-based canon here hides the width (round-3 q89, round-4 q101).
# Mirror that: classify each side's type and fail on any wide/decimal
# oracle type or any int-vs-float class disagreement.
WIDE = ("HUGEINT", "UHUGEINT", "DECIMAL")
def type_class(t):
    t = t.upper()
    if any(w in t for w in WIDE):
        return "wide"
    if "INT" in t:
        return "int"
    if "DOUBLE" in t or "FLOAT" in t or "REAL" in t:
        return "float"
    if "BOOL" in t:
        return "bool"
    if "TIMESTAMP" in t or "DATE" in t:
        return "temporal"
    return "other"

def type_check(name, con, sql, out_dir):
    """Return list of failure strings (empty = ok)."""
    odesc = con.sql(f"DESCRIBE {sql}").fetchall()
    sdesc = con.sql(
        f"DESCRIBE SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchall()
    fails = []
    otypes = {c.lower(): t for c, t, *_ in odesc}
    stypes = {c.lower(): t for c, t, *_ in sdesc}
    for c, t in otypes.items():
        if any(w in t.upper() for w in WIDE):
            fails.append(f"oracle column {c} is {t} — pandas renders it "
                         f"float64/object vs Spark int64; CAST(... AS BIGINT/DOUBLE)")
    for c in sorted(set(otypes) & set(stypes)):
        oc, sc = type_class(otypes[c]), type_class(stypes[c])
        if "wide" not in (oc, sc) and oc != sc:
            fails.append(f"column {c} type-class mismatch: oracle {otypes[c]} "
                         f"({oc}) vs spark {stypes[c]} ({sc})")
    return fails

def driver_row(rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None):
    """One per-query row in the DRIVER's CORRECTNESS_r{N}.json schema
    (the CORRECTNESS_r11.json format) — the mirror must be drop-in
    consumable wherever the driver artifact is read (round-13 verdict
    #1: two consecutive driver artifacts shipped as empty `{}`)."""
    return {"rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err}

def bounded_connection(spill_dir):
    """A DuckDB connection that cannot take the machine's memory: a
    memory limit of a quarter of RAM (at most 4 GiB), spilling into
    `spill_dir` (at most 8 GiB there). A query that still does not fit
    fails with an error, which becomes its `oracle error` row, instead
    of holding memory for minutes. Insertion order stays preserved:
    rows are compared in order, and without it DuckDB returned dozens
    of results (the Spark output reads and oracles with tied ORDER BY
    keys) with the right rows in another order."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kib = 8 << 20
    limit_mib = max(512, min(4096, kib // 1024 // 4))
    con = duckdb.connect()
    con.sql(f"SET memory_limit = '{limit_mib}MiB'")
    con.sql(f"SET temp_directory = '{spill_dir}'")
    con.sql("SET max_temp_directory_size = '8GiB'")
    return con

# `WITH name AS (` / `, name AS (`: a common table expression's head.
CTE_HEAD = re.compile(r"((?:\bWITH\s+|,\s*)[A-Za-z_][A-Za-z0-9_]*\s+AS\s*)\(",
                      re.I)

def materialized(sql):
    """`sql` with every common table expression evaluated once. DuckDB
    1.0 inlines a CTE at each reference, so an oracle whose CTEs refer
    to earlier ones more than once (q211's power iteration: each step
    reads the one before twice) plans exponentially many copies and
    runs for minutes before running out of memory; evaluated once, it
    takes well under a second. Oracles are deterministic, so the rows
    are the same."""
    return CTE_HEAD.sub(lambda m: m.group(1) + "MATERIALIZED (", sql)

def oracle_sql(con, sql):
    """The form of `sql` to run: CTEs materialized, unless the rewrite
    does not parse or bind (e.g. a named WINDOW after a comma), in
    which case the query as written."""
    m = materialized(sql)
    if m == sql:
        return sql
    try:
        con.sql(f"DESCRIBE {m}")
        return m
    except (duckdb.ParserException, duckdb.BinderException,
            duckdb.NotImplementedException):
        return sql

def main(sf_dir, out_dir):
    with tempfile.TemporaryDirectory(prefix="check_oracle_spill_") as spill:
        check(bounded_connection(spill), sf_dir, out_dir)

def check(con, sf_dir, out_dir):
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    results = {}
    for name in sorted(oracle):
        try:
            sql = oracle_sql(con, oracle[name])
            o = con.sql(sql)
            ocols, orows = o.columns, o.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            results[name] = driver_row(err=f"oracle error: {str(e)[:200]}")
            continue
        try:
            s = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            scols, srows = s.columns, s.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {str(e)[:200]}")
            results[name] = driver_row(oracle_rows=len(orows),
                                       err="spark output missing")
            continue
        # the DRIVER's pandas comparator cannot sort/hash list/struct
        # cells (round-3 q89 err) — this checker canonicalizes them, so
        # without this guard a non-scalar column passes locally and
        # fails the real gate. Mirror the driver's constraint instead.
        types = con.sql(
            f"DESCRIBE SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchall()
        nonscalar = [(c, t) for c, t, *_ in types
                     if "[" in t or "STRUCT" in t or "MAP" in t]
        if nonscalar:
            print(f"FAIL {name}: non-scalar output columns (driver comparator "
                  f"contract): {nonscalar}")
            results[name] = driver_row(
                spark_rows=len(srows), oracle_rows=len(orows),
                err=f"non-scalar columns: {nonscalar}")
            continue
        tfails = type_check(name, con, sql, out_dir)
        if tfails:
            print(f"FAIL {name}: " + "; ".join(tfails))
            results[name] = driver_row(
                spark_rows=len(srows), oracle_rows=len(orows),
                err="; ".join(tfails)[:300])
            continue
        oc, orows2 = frame([c.lower() for c in ocols], orows)
        sc, srows2 = frame([c.lower() for c in scols], srows)
        if oc != sc:
            print(f"FAIL {name}: schema {sc} vs oracle {oc}")
            results[name] = driver_row(
                rows_match=(len(orows2) == len(srows2)), schema_match=False,
                hash_match=False, spark_rows=len(srows2),
                oracle_rows=len(orows2), err="schema mismatch")
            continue
        if len(orows2) != len(srows2):
            print(f"FAIL {name}: rows {len(srows2)} vs oracle {len(orows2)}")
            results[name] = driver_row(
                rows_match=False, schema_match=True, hash_match=False,
                spark_rows=len(srows2), oracle_rows=len(orows2),
                err="row count mismatch")
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(srows2, orows2)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(orows2)} rows differ; first at {i}:\n  spark={a}\n  duck ={b}")
            results[name] = driver_row(
                rows_match=True, schema_match=True, hash_match=False,
                spark_rows=len(srows2), oracle_rows=len(orows2),
                err=f"{len(bad)} rows differ")
            continue
        print(f"OK   {name} ({len(orows2)} rows)")
        results[name] = driver_row(
            rows_match=True, schema_match=True, hash_match=True,
            spark_rows=len(srows2), oracle_rows=len(orows2))
        n_ok += 1
    # rows-only queries (in SparkEntry.queries but not oracleSql — q39's
    # documented convention): record them exactly as the driver does
    # (err="no_oracle", spark_rows from the written parquet)
    import os
    n_rows_only = 0
    for d in sorted(os.listdir(out_dir)):
        if d in oracle or not os.path.isdir(os.path.join(out_dir, d)):
            continue
        try:
            n = con.sql(
                f"SELECT count(*) FROM '{out_dir}/{d}/*.parquet'").fetchone()[0]
        except Exception:
            continue  # not a query output dir
        results[d] = driver_row(spark_rows=n, err="no_oracle")
        n_rows_only += 1
        print(f"ROWS {d} ({n} rows, no oracle — rows-only by design)")
    print(f"== {n_ok}/{len(oracle)} oracle queries match"
          + (f" (+{n_rows_only} rows-only)" if n_rows_only else ""))
    # machine-readable local mirror in the DRIVER artifact schema
    # (round-13 verdict #1: the driver's CORRECTNESS_r{N}.json shipped
    # empty two rounds running — this flat map is drop-in consumable
    # wherever that artifact is read; check_close.py validates it)
    with open(os.path.join(out_dir, "correctness_local.json"), "w") as f:
        json.dump(results, f)
    if n_ok != len(oracle):
        sys.exit(1)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
