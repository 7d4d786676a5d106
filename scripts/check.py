#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify at a
scale factor, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (column names sorted, rows compared exactly).

Usage: python3 scripts/check.py [sfDir] [--skip-verify] [--out=DIR]
                                [--jobs=N] [--only=PREFIX[,PREFIX...]]

--jobs=N runs N compare workers in parallel, each its own DuckDB
connection capped at (32 // N) threads. DuckDB 1.x runs recursive-CTE /
window-heavy oracles mostly single-threaded, so the sf0.1 replays that
take tens of minutes EACH serially (d07's transitive closure, n06's
brute-force cosine) overlap almost perfectly — the full 248-entry sf0.1
compare fits in a round instead of spilling past it. Workers pick
longest-SQL-first (the recursive chains are the long ones), so stragglers
start first instead of last.
"""
import duckdb, json, math, os, subprocess, sys
from multiprocessing import Pool

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/root/testdata/sf0.01"
# per-SF dump dir: a long sf0.1 run and a quick sf0.01 gate must not
# clobber each other's Spark outputs mid-compare. --out=DIR points the
# compare at a targeted dump (`graft.Verify <sfDir> <outDir> <name>...`).
OUT = "/tmp/graft_verify_" + os.path.basename(SF.rstrip("/"))
JOBS = 1
ONLY = None
for a in sys.argv[1:]:
    if a.startswith("--out="):
        OUT = a[len("--out="):]
    elif a.startswith("--jobs="):
        JOBS = max(1, int(a[len("--jobs="):]))
    elif a.startswith("--only="):
        ONLY = a[len("--only="):].split(",")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd="/root/repo", capture_output=True, text=True)
    sys.stdout.write(r.stdout[-4000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"Verify failed rc={r.returncode}")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))


def connect(threads):
    con = duckdb.connect()
    if threads:
        con.sql(f"SET threads={threads}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def compare(con, name):
    """Returns (ok, message) for one entry; ok=None marks rows-only."""
    try:
        grel = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
        got = grel.df()
    except Exception as e:
        return False, f"FAIL {name}: no spark output ({e})"
    if name not in oracle:
        return None, f"ROWS-ONLY {name}: {len(got)} rows"
    try:
        erel = con.sql(oracle[name])
        exp = erel.df()
    except Exception as e:
        return False, f"FAIL {name}: oracle error: {e}"
    # DuckDB-NATIVE type compare — the driver's hash is type-sensitive
    # (HUGEINT vs BIGINT hashes differently even for identical values),
    # while the pandas value-compare below is not. Round 3's three red
    # rows all lived in exactly this gap.
    gtypes = dict(zip(grel.columns, (str(t) for t in grel.types)))
    etypes = dict(zip(erel.columns, (str(t) for t in erel.types)))
    tmism = [(c, gtypes.get(c), etypes.get(c))
             for c in sorted(set(gtypes) & set(etypes))
             if gtypes[c] != etypes[c]]
    if tmism:
        return False, "\n".join(
            f"FAIL {name}: col {c} TYPE spark={gt} oracle={et}"
            for c, gt, et in tmism)
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return False, f"FAIL {name}: schema {gcols} vs {ecols}"
    if len(got) != len(exp):
        return False, f"FAIL {name}: rows {len(got)} vs {len(exp)}"
    g, e = got[gcols].reset_index(drop=True), exp[ecols].reset_index(drop=True)
    for c in gcols:
        for i, (a, b) in enumerate(zip(g[c], e[c])):
            an = a is None or (isinstance(a, float) and math.isnan(a))
            bn = b is None or (isinstance(b, float) and math.isnan(b))
            if an and bn:
                continue
            eq = (not an and not bn) and \
                (a == b or (isinstance(a, float) and isinstance(b, float) and a == b))
            if not eq:
                return False, \
                    f"FAIL {name}: col {c} row {i}: spark={a!r} oracle={b!r}"
    return True, f"OK   {name}: {len(got)} rows"


try:
    names = json.load(open(f"{OUT}/queries.json"))
except FileNotFoundError:
    names = sorted(n for n in os.listdir(OUT) if os.path.isdir(f"{OUT}/{n}"))
if ONLY:
    names = [n for n in names if any(n.startswith(p) for p in ONLY)]

_WORKER_CON = None


def _work(name):
    global _WORKER_CON
    if _WORKER_CON is None:
        _WORKER_CON = connect(max(1, (os.cpu_count() or 32) // JOBS))
    import time
    t0 = time.time()
    ok, msg = compare(_WORKER_CON, name)
    return ok, f"{msg}   [{time.time() - t0:.1f}s]" if JOBS > 1 else msg


fails = 0
if JOBS == 1:
    con = connect(None)
    for name in names:
        ok, msg = compare(con, name)
        print(msg, flush=True)
        if ok is False:
            fails += 1
else:
    # longest-oracle-first: the multi-hour recursive chains launch first
    order = sorted(names, key=lambda n: -len(oracle.get(n, "")))
    done = 0
    try:
        with Pool(JOBS) as pool:
            for ok, msg in pool.imap_unordered(_work, order):
                done += 1
                print(msg, flush=True)
                if ok is False:
                    fails += 1
    except Exception as e:
        # a worker that dies hard (DuckDB crash/OOM-kill) raises here;
        # still print the tally instead of skipping the summary path.
        print(f"POOL ERROR after {done}/{len(names)} entries: {e!r}",
              flush=True)
        fails += len(names) - done

print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'} "
      f"({len(names)} entries)")
sys.exit(1 if fails else 0)
