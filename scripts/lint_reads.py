#!/usr/bin/env python3
"""Fail on three ways a query can reach past its own plan.

1. A parquet read outside the one read path. `graft.Tables.read`
   resolves each input's schema (and its drift check) once per session;
   a raw `read.parquet(` elsewhere in the program infers the schema again
   on every call, one Spark job each, before the query's own work starts,
   and a raw `read.schema(...).parquet(` skips the drift check.
2. A use of the session catalog: a temp view (`createTempView(` and its
   three siblings), SQL text run through `.sql(`, or `udf.register(`.
   Each one changes or reads state that every query on the session
   shares. SQL text binds to frames through `PlanUtil.bind` instead.
3. A fixed width on a data path: an integer literal as the first
   argument of `repartition(`, `repartitionByRange(` or `coalesce(`.
   A width written into the program stays the same when the data grows
   a thousandfold; the session's width (`spark.sql.shuffle.partitions`,
   which AQE may coalesce) grows with the cluster. `coalesce(1)` is
   exempt: it writes a single-file sidecar or dump.

Usage: python3 scripts/lint_reads.py [root ...]   (default: src/main)
Prints one `file:line` per hit (the line the call's name is on) and
exits 1 if there is any. Comments and string literals are skipped; a
call split over lines is found.
"""
import pathlib
import re
import sys

# path suffix -> why that file may read parquet itself (rule 1 only)
ALLOWED = {
    "graft/Tables.scala": "the read path itself",
}

# path suffix -> why that file may fix a width itself (rule 3 only)
WIDTH_ALLOWED = {
    "graft/operators/Layout.scala":
        "a fixture layout: its file count is what the fixture is",
}

READ = re.compile(r"\bread\s*\.\s*(parquet|schema)\s*\(")
THEN_PARQUET = re.compile(r"\s*\.\s*parquet\s*\(")
CATALOG = re.compile(
    r"\b(createTempView|createOrReplaceTempView|createGlobalTempView"
    r"|createOrReplaceGlobalTempView)\s*\(|\.\s*sql\s*\(|\budf\s*\.\s*register\s*\(")
WIDTH = re.compile(r"\b(repartition|repartitionByRange|coalesce)\s*\(\s*(\d[\d_]*)L?\s*[,)]")


def code_only(text):
    """`text` with every comment and every string and char literal
    blanked out (newlines kept, so line numbers hold)."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """...""""" closes on the last
                j += 1
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            j = i + (4 if text[i + 1] == "\\" else 3)
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
        else:
            out.append(text[i])
            i += 1
            continue
        out.append(re.sub(r"[^\n]", " ", text[i:j]))
        i = j
    return "".join(out)


def close_paren(text, open_at):
    """Index just past the parenthesis that closes the one at `open_at`."""
    depth = 0
    for k in range(open_at, len(text)):
        if text[k] == "(":
            depth += 1
        elif text[k] == ")":
            depth -= 1
            if depth == 0:
                return k + 1
    return len(text)


def raw_reads(text):
    """Yield the 1-based line of every raw parquet read in `text`."""
    code = code_only(text)
    for m in READ.finditer(code):
        if m.group(1) == "schema" and not THEN_PARQUET.match(
                code, close_paren(code, m.end() - 1)):
            continue
        yield code.count("\n", 0, m.start()) + 1


def catalog_uses(text):
    """Yield the 1-based line of every session-catalog use in `text`."""
    code = code_only(text)
    for m in CATALOG.finditer(code):
        yield code.count("\n", 0, m.start()) + 1


def fixed_widths(text):
    """Yield the 1-based line of every integer-literal width in `text`."""
    code = code_only(text)
    for m in WIDTH.finditer(code):
        if not (m.group(1) == "coalesce" and m.group(2) == "1"):
            yield code.count("\n", 0, m.start()) + 1


def main(argv):
    roots = [pathlib.Path(a) for a in argv] or [pathlib.Path("src/main")]
    reads, uses, widths = [], [], []
    for root in roots:
        files = [root] if root.is_file() else sorted(root.rglob("*.scala"))
        for f in files:
            text = f.read_text(encoding="utf-8")
            if not any(f.as_posix().endswith(a) for a in ALLOWED):
                reads += [f"{f}:{line}" for line in raw_reads(text)]
            uses += [f"{f}:{line}" for line in catalog_uses(text)]
            if not any(f.as_posix().endswith(a) for a in WIDTH_ALLOWED):
                widths += [f"{f}:{line}" for line in fixed_widths(text)]
    for b in reads:
        print(f"raw parquet read (use graft.Tables.read): {b}")
    for b in uses:
        print(f"session catalog use (bind SQL text with PlanUtil.bind): {b}")
    for b in widths:
        print(f"fixed width (take the session's width): {b}")
    print(f"[lint_reads] {len(reads)} raw read(s), {len(uses)} catalog use(s), "
          f"{len(widths)} fixed width(s)")
    return 1 if reads or uses or widths else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
