#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
       python3 scripts/check.py --same <verifyOutDirA> <verifyOutDirB>

Loads each <verifyOutDir>/<name> parquet result (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the same
source tables, sorts columns by name, and compares values exactly.

--same compares two Verify dumps (say, of two commits) without DuckDB:
every query's Spark output must hold the same rows as a multiset (same
columns, exact values, any order). It also lists the queries whose oracle
SQL text differs between the dumps. Exit status 1 on any row difference.
"""
import collections, decimal, json, math, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pyarrow as pa

def load_spark(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # Distinguish Decimal from int: the driver hashes raw values, so a
    # DuckDB HUGEINT/DECIMAL (e.g. uncast SUM(BIGINT)) must NOT silently
    # compare equal to a Spark int64 (r01 pipeline_clean_corpus lesson).
    # normalize() drops scale formatting (1.50 -> 1.5) so only genuine type
    # drift (Decimal vs int) fails, not a scale-only difference like
    # DECIMAL(38,6) vs DECIMAL(25,6) of the same value
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v.normalize()))
    return v

def frozen(v):
    """norm() applied through nested lists and structs, hashable."""
    if isinstance(v, list):
        return tuple(frozen(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, frozen(x)) for k, x in v.items()))
    return norm(v)

def cells(tbl):
    cols = sorted(tbl.column_names)
    pyl = {c: tbl.column(c).to_pylist() for c in cols}
    return [tuple(norm(pyl[c][i]) for c in cols) for i in range(tbl.num_rows)], cols

def outputs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

def same(dir_a, dir_b):
    names_a, names_b = outputs(dir_a), outputs(dir_b)
    n_same = n_diff = 0
    for name in sorted(names_a | names_b):
        if name not in names_a or name not in names_b:
            print(f"DIFF {name}: output only in {dir_a if name in names_a else dir_b}")
            n_diff += 1; continue
        ta, tb = load_spark(os.path.join(dir_a, name)), load_spark(os.path.join(dir_b, name))
        if ta is None or tb is None:
            print(f"DIFF {name}: no spark output in {dir_a if ta is None else dir_b}")
            n_diff += 1; continue
        (ra, ca), (rb, cb) = cells(ta), cells(tb)
        if ca != cb:
            print(f"DIFF {name}: cols A={ca} B={cb}"); n_diff += 1; continue
        ma = collections.Counter(tuple(frozen(x) for x in r) for r in ra)
        mb = collections.Counter(tuple(frozen(x) for x in r) for r in rb)
        if ma != mb:
            only_a, only_b = ma - mb, mb - ma
            print(f"DIFF {name}: rows A={len(ra)} B={len(rb)}; "
                  f"{sum(only_a.values())} only in A, {sum(only_b.values())} only in B")
            print(f"   cols:   {ca}")
            for tag, rest in (("A", only_a), ("B", only_b)):
                if rest:
                    print(f"   {tag} only: {next(iter(rest))}")
            n_diff += 1; continue
        print(f"SAME {name} ({len(ra)} rows)")
        n_same += 1
    oa = json.load(open(f"{dir_a}/oracle_sql.json"))
    ob = json.load(open(f"{dir_b}/oracle_sql.json"))
    changed = sorted(n for n in set(oa) | set(ob) if oa.get(n) != ob.get(n))
    for n in changed:
        print(f"ORACLE-SQL {n}: text differs")
    print(f"== {n_same} same, {n_diff} differ, {len(changed)} oracle SQL texts differ ==")
    sys.exit(1 if n_diff else 0)

def main():
    if sys.argv[1] == "--same":
        same(sys.argv[2], sys.argv[3])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        f = f"{sf_dir}/{t}.parquet"
        if os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    for name in names:
        got = load_spark(os.path.join(out_dir, name))
        if got is None:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={got.num_rows})"); continue
        try:
            exp = con.sql(oracles[name]).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        grows, gcols = cells(got)
        erows, ecols = cells(exp)
        if gcols != ecols:
            print(f"FAIL {name}: cols spark={gcols} oracle={ecols}"); n_fail += 1; continue
        if len(grows) != len(erows):
            print(f"FAIL {name}: rows spark={len(grows)} oracle={len(erows)}"); n_fail += 1; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(grows, erows)) if a != b]
        if bad:
            i, a, b = bad[0]
            # distinguish float-noise from real mismatches
            close = all(
                (isinstance(x, float) and isinstance(y, float)
                 and abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y)))
                or x == y
                for r1, r2 in [(a, b)] for x, y in zip(r1, r2))
            tag = "FLOATDRIFT" if close else "MISMATCH"
            print(f"FAIL {name}: {tag} {len(bad)}/{len(grows)} rows; first row {i}:")
            print(f"   cols:   {ecols}")
            print(f"   spark:  {a}")
            print(f"   oracle: {b}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(grows)} rows)")
        n_pass += 1
    missing = sorted(set(oracles) - set(names))
    for m in missing:
        print(f"FAIL {m}: oracle present but no spark output dir"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(names)} outputs ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
