#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet
tables and compare row-by-row (columns sorted by name, rows sorted).

Each PASS line ends with the gate's sorted-row hash (see `row_hash`), so
two runs -- say a parent checkout and a change -- compare with `diff`.

Usage: python3 tools/selfcheck.py [sfDir] [outDir] [--skip-verify]
"""
import hashlib, json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = ARGS[0] if len(ARGS) > 0 else "/root/testdata/sf0.01"
OUT = Path(ARGS[1] if len(ARGS) > 1 else "/tmp/graft_verify")
# The checkout this script belongs to: sbt builds and runs that tree.
REPO = Path(__file__).resolve().parents[1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    cp = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        capture_output=True, text=True, cwd=REPO)
    sys.stdout.write("\n".join(
        l for l in (cp.stdout + cp.stderr).splitlines()
        if "[verify]" in l or "error" in l.lower()) + "\n")
    if cp.returncode != 0:
        print("VERIFY FAILED"); sys.exit(1)


def norm(v):
    # EXACT comparison, no rounding: the driver hashes raw values, so a
    # Spark Decimal vs a DuckDB float64 must FAIL here too (r03 q11
    # lesson — 9-dp rounding hid a representation mismatch).
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def array_cols(tbl):
    import pyarrow as pa
    return [c for c in tbl.column_names
            if pa.types.is_list(tbl.schema.field(c).type)
            or pa.types.is_large_list(tbl.schema.field(c).type)]


def table_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(
        (tuple(norm(col[i]) for col in data) for i in range(tbl.num_rows)),
        key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def row_hash(cols, rows):
    """First 16 hex digits of sha256 over repr((columns by name, sorted
    rows)) -- the rows as `table_rows` returns them."""
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def main():
    if "--skip-verify" not in sys.argv:
        run_verify()
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        rdir = OUT / name
        if not rdir.exists():
            print(f"FAIL {name}: no spark result"); n_fail += 1; continue
        try:
            got = pq.read_table(str(rdir))
            want = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        arr = array_cols(got) + array_cols(want)
        if arr:
            # the driver's pandas sort_values dies on array columns
            # (r03 q14) — treat as failure so local predicts driver
            print(f"FAIL {name}: array-typed output columns {sorted(set(arr))} "
                  "(driver comparator cannot sort these; serialize with to_json)")
            n_fail += 1
            continue
        gc, gr = table_rows(got)
        wc, wr = table_rows(want)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}"); n_fail += 1; continue
        if len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} != {len(wr)}"); n_fail += 1; continue
        bad = next((i for i, (a, b) in enumerate(zip(gr, wr)) if a != b), None)
        if bad is not None:
            print(f"FAIL {name}: first diff row {bad}:\n  spark={gr[bad]}\n  duck ={wr[bad]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows) {row_hash(gc, gr)}"); n_pass += 1
    # rows-only entries (no oracle)
    for rdir in sorted(OUT.iterdir()):
        if rdir.is_dir() and rdir.name not in oracle:
            n = pq.read_table(str(rdir)).num_rows
            print(f"ROWS {rdir.name}: {n} rows (no oracle)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
