"""Untimed correctness gate: every op's checked output against DuckDB.

Query ops: the output Spark wrote is compared with the query's oracle SQL
(`graft.SparkEntry.oracleSql`) run by DuckDB on the same inputs, with the
compare rules of the repository's `scripts/check.py` (columns sorted by
name, rows in order, values exact).

Ingest ops: the COPY-text files are parsed back (tab split, `\\N` as NULL,
COPY escapes undone) and the parquet sink is read, and both are compared,
value for value and as multisets of rows, with DuckDB's read of the source.
A COPY stream sent to a connection must carry the same rows and bytes as
the COPY files the import wrote for the same input.
"""
import glob
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
import check as rules  # noqa: E402  (the repository's compare rules)

UNESCAPE = ("replace(replace(replace(replace(replace({c}, '\\\\', chr(1)), "
            "'\\t', chr(9)), '\\r', chr(13)), '\\n', chr(10)), chr(1), '\\')")


def _files_sql(files):
    return "[" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"{_files_sql(gen.parquet_files(data_dir, t))})")
    return con


def check_queries(ops, check_dir):
    """Return {op name: failure message or None} for query ops, each
    checked on the corpus it read (its `source`)."""
    cons = {}
    out = {}
    for op in ops:
        name = op["name"]
        con = cons.get(op["source"]) or cons.setdefault(op["source"], _connect(op["source"]))
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not op["checked"] or not files:
            out[name] = "no output"
            continue
        if not op.get("oracle"):
            out[name] = "no oracle"
            continue
        # part files in partition order, which is the order of the rows
        got = pa.concat_tables([pq.read_table(f) for f in files])
        try:
            exp = con.sql(op["oracle"]).arrow()
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
            continue
        grows, gcols = rules.cells(got)
        erows, ecols = rules.cells(exp)
        if gcols != ecols:
            out[name] = f"columns {gcols} != {ecols}"
        elif len(grows) != len(erows):
            out[name] = f"rows {len(grows)} != {len(erows)}"
        elif grows != erows:
            bad = next(i for i, (a, b) in enumerate(zip(grows, erows)) if a != b)
            out[name] = f"row {bad}: {grows[bad]} != {erows[bad]}"
        elif op["fingerprint"][0] != len(grows):
            out[name] = "fingerprint row count differs from checked output"
        else:
            out[name] = None
    return out


def _typed(schema, copy_text):
    """(source expr, sink expr) pairs that compare equal when the sink
    column `c` holds the normalized/encoded form of source column `c`."""
    pairs = []
    for f in schema:
        c = '"' + f.name + '"'
        text = UNESCAPE.format(c=c) if copy_text else c
        t = f.type
        if str(t).startswith("timestamp"):
            pairs.append((f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f') || '+00:00'", c))
        elif str(t).startswith("list<"):
            pairs.append((c, f"CAST({text} AS FLOAT[])"))
        elif str(t) in ("string", "large_string"):
            pairs.append((c, text))
        elif str(t) in ("double", "float"):
            pairs.append((f"CAST({c} AS DOUBLE)", f"CAST({c} AS DOUBLE)"))
        elif str(t).startswith("int"):
            pairs.append((f"CAST({c} AS BIGINT)", f"CAST({c} AS BIGINT)"))
        else:
            raise ValueError(f"no COPY compare rule for {f.name}: {t}")
    return pairs


def _same_rows(con, src_files, sink_sql, pairs):
    src = ", ".join(f"{s} AS c{i}" for i, (s, _) in enumerate(pairs))
    snk = ", ".join(f"{k} AS c{i}" for i, (_, k) in enumerate(pairs))
    a = f"SELECT {src} FROM read_parquet({_files_sql(src_files)})"
    b = f"SELECT {snk} FROM {sink_sql}"
    n = con.sql(f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]
    return n


def check_ingest(inputs, ops, check_dir):
    """Return {op name: failure message or None} for ingest ops.
    `inputs` maps input name -> list of source parquet files."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    by_name = {op["name"]: op for op in ops}
    out = {}
    for name, src in inputs.items():
        imp, cp = f"import_{name}", f"copy_into_{name}"
        schema = pq.read_schema(src[0])
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in src)
        base = os.path.join(check_dir, imp)
        copy_files = [f for f in sorted(glob.glob(os.path.join(base, "copy", name, "part-*")))
                      if os.path.getsize(f) > 0]
        sink_files = sorted(glob.glob(os.path.join(base, "parquet", name, "*.parquet")))
        fp = by_name[imp]["fingerprint"]
        if not by_name[imp]["checked"] or not copy_files or not sink_files:
            out[imp] = "no output"
        else:
            cols = ", ".join(f"'{f.name}': 'VARCHAR'" for f in schema)
            copy_sql = (f"read_csv({_files_sql(copy_files)}, delim='\t', header=false, "
                        f"quote='', escape='', nullstr='\\N', auto_detect=false, "
                        f"columns={{{cols}}})")
            bad_copy = _same_rows(con, src, copy_sql, _typed(schema, True))
            bad_sink = _same_rows(con, src, f"read_parquet({_files_sql(sink_files)})",
                                  _typed(schema, False))
            copy_bytes = sum(os.path.getsize(f) for f in copy_files)
            if bad_copy or bad_sink:
                out[imp] = f"{bad_copy} COPY rows and {bad_sink} sink rows differ from source"
            elif fp != [rows, copy_bytes]:
                out[imp] = f"fingerprint {fp} != rows {rows}, COPY bytes {copy_bytes}"
            else:
                out[imp] = None
        cfp = by_name[cp]["fingerprint"]
        if not by_name[cp]["checked"]:
            out[cp] = "no output"
        elif out[imp] is not None or cfp[:2] != fp:
            out[cp] = f"COPY stream {cfp[:2]} != checked COPY files {fp}"
        elif cfp[2] < -(-rows // 5000):
            out[cp] = f"{cfp[2]} COPY calls for {rows} rows"
        else:
            out[cp] = None
    return out
