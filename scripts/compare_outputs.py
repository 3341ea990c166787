#!/usr/bin/env python3
"""Row-for-row comparison of two run_verify.sh output directories, say
of a parent commit and of a change that must not move any answer.

Every entry (a subdirectory holding parquet files, in either directory)
is compared in its own fresh subprocess, as check.py runs its entries
(DuckDB's out-of-memory failures poison the process that hit them): one
DuckDB EXCEPT ALL each way over the entry's columns in name order, on
exact values, nothing rounded. An entry differs when its column names
differ, when it is missing on one side, or when either EXCEPT ALL leaves
a row. Prints each differing entry and exits 1 if there is any.

Usage: compare_outputs.py OUT_A OUT_B [entry_filter_substr]
       compare_outputs.py --entry NAME OUT_A OUT_B   (internal)
"""
import glob, json, os, subprocess, sys
from concurrent.futures import ThreadPoolExecutor

POOL = 4
RETRIES = 2  # extra fresh-subprocess attempts after an out-of-memory error


def compare_child(name, a, b):
    import duckdb
    con = duckdb.connect()
    srcs = [f"read_parquet('{d}/{name}/*.parquet')" for d in (a, b)]
    cols = [sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {s}")
                   .fetchall()) for s in srcs]
    if cols[0] != cols[1]:
        return f"columns {cols[0]} vs {cols[1]}"
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c in cols[0])
    left, right = (f"SELECT {sel} FROM {s}" for s in srcs)
    only = [con.execute(f"SELECT count(*) FROM ({x} EXCEPT ALL {y})")
            .fetchone()[0] for x, y in ((left, right), (right, left))]
    rows = [con.execute(f"SELECT count(*) FROM {s}").fetchone()[0]
            for s in srcs]
    con.close()
    if any(only):
        return f"{only[0]} rows only in A, {only[1]} only in B " \
               f"(of {rows[0]} vs {rows[1]})"
    return None


if len(sys.argv) > 1 and sys.argv[1] == "--entry":
    try:
        err = compare_child(*sys.argv[2:5])
    except Exception as e:
        err = f"error: {e}"
    print(json.dumps({"err": err}))
    sys.exit(0)

if len(sys.argv) < 3:
    sys.exit(__doc__)
A, B = sys.argv[1], sys.argv[2]
FILT = sys.argv[3] if len(sys.argv) > 3 else ""


def entries(d):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{d}/*/*.parquet")}


ea, eb = entries(A), entries(B)
names = sorted(n for n in ea | eb if FILT in n)


def run(name):
    if name not in ea or name not in eb:
        return name, f"missing in {'A' if name not in ea else 'B'}"
    for _ in range(1 + RETRIES):
        r = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--entry", name, A, B],
                           capture_output=True, text=True)
        try:
            err = json.loads(r.stdout.strip().splitlines()[-1])["err"]
        except Exception:
            err = f"child rc={r.returncode}: {(r.stderr or '')[-300:]}"
        low = str(err).lower()
        if not ("out of memory" in low or "bad allocation" in low):
            break
    return name, err


diff = 0
with ThreadPoolExecutor(max_workers=POOL) as ex:
    for name, err in ex.map(run, names):
        if err:
            diff += 1
            print(f"DIFF {name}: {err}")
print(f"{len(names) - diff} identical, {diff} differing")
sys.exit(1 if diff else 0)
