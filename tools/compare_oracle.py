#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query result
parquet under OUTDIR, run the matching oracle SQL in DuckDB over the testdata
parquet tables and compare values exactly (row multiset, column names sorted).

Usage: compare_oracle.py SFDIR OUTDIR [query ...] [--artifact PATH]

--artifact PATH also writes the CORRECTNESS JSON record of the compared
queries (per query: rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err), e.g. for a fresh Verify output dir OUTDIR:

    tools/run_class.sh graft.Verify SFDIR OUTDIR
    python3 tools/compare_oracle.py SFDIR OUTDIR \\
        --artifact CORRECTNESS_sf0.1_rNN.json
"""
import argparse, os, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact-match stand-in for a hash
    return repr(v)

def norm_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [names[i] for i in order]

# Types matter: the driver's hash is type-strict for HUGEINT vs BIGINT
# (CORRECTNESS_r01 showed those hash-differ even when values match) but
# tolerates width differences within the 64-bit int family (row_number
# INT32 vs DuckDB BIGINT passed). Mirror that.
def fam(t):
    return ("INT64" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT")
            else t)

def connect(sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def compare(con, res_dir, sql):
    """(record, FAIL message or None) for one query."""
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    if not os.path.isdir(res_dir):
        rec["err"] = "no spark output"
        return rec, "no spark output"
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
        g_names = list(got.columns)
        g_types = dict(zip(g_names, [str(t) for t in got.types]))
        g_rows, g_cols = norm_rows(g_names, got.fetchall())
        want = con.sql(sql)
        w_names = list(want.columns)
        w_types = dict(zip(w_names, [str(t) for t in want.types]))
        w_rows, w_cols = norm_rows(w_names, want.fetchall())
    except Exception as e:
        rec["err"] = str(e)
        return rec, str(e)
    type_diff = {c: (g_types.get(c), w_types.get(c))
                 for c in set(g_types) | set(w_types)
                 if fam(g_types.get(c)) != fam(w_types.get(c))}
    rec["spark_rows"] = len(g_rows)
    rec["oracle_rows"] = len(w_rows)
    rec["rows_match"] = len(g_rows) == len(w_rows)
    rec["schema_match"] = g_cols == w_cols and not type_diff
    rec["hash_match"] = rec["schema_match"] and g_rows == w_rows
    if g_cols != w_cols:
        return rec, f"columns {g_cols} != {w_cols}"
    if type_diff:
        return rec, f"type mismatch (spark, oracle): {type_diff}"
    if g_rows != w_rows:
        diff = [i for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b]
        msg = f"{len(g_rows)} vs {len(w_rows)} rows"
        if diff:
            i = diff[0]
            msg += f"; first diff at sorted-row {i}:\n  spark={g_rows[i]}\n  duck ={w_rows[i]}"
        elif len(g_rows) != len(w_rows):
            k = min(len(g_rows), len(w_rows))
            extra = g_rows[k] if len(g_rows) > k else w_rows[k]
            msg += f"; first extra row: {extra}"
        return rec, msg
    return rec, None

def main():
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("query", nargs="*")
    ap.add_argument("--artifact")
    args = ap.parse_intermixed_args()
    only = set(args.query)
    oracle = json.load(open(os.path.join(args.outdir, "oracle_sql.json")))
    result = {}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        # a connection per query: one long-lived connection accumulates
        # buffer-pool state across ~300 heavy replays and eventually
        # throws "Out of Memory Error: Failed to allocate block" at sf0.1
        # on queries that replay green in isolation
        rec, fail = compare(connect(args.sfdir),
                            os.path.join(args.outdir, name), oracle[name])
        result[name] = rec
        if fail is None:
            print(f"PASS {name} ({rec['spark_rows']} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {fail}")
            n_fail += 1
    if args.artifact:
        with open(args.artifact, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    raise SystemExit(1 if n_fail else 0)

main()
