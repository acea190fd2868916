#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify,
then run each oracle SQL in DuckDB over the same parquet tables and
compare (columns sorted by name, rows sorted, values hashed).

Usage: python3 tools/oracle_check.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import sys, os, json, subprocess, hashlib
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
flags = [a for a in sys.argv[3:]]
skip_verify = "--skip-verify" in flags
only = [a for a in flags if not a.startswith("--")]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if not skip_verify:
    subset = " " + " ".join(only) if only else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{subset}'],
        cwd="/root/repo", capture_output=True, text=True, timeout=1800)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print("VERIFY FAILED:\n", tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

print(f"duckdb={duckdb.__version__}")
con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
try:
    scala_hashes = json.load(open(f"{OUT}/HASHES.json"))
except Exception:
    scala_hashes = {}

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, bool): return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v): return str(int(v))
        return f"{v:.9g}"
    return str(v)

def table_hash(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(row[i]) for i in idx) for row in rows)
    h = hashlib.sha256()
    for l in lines: h.update(l.encode()); h.update(b"\n")
    return h.hexdigest()

ok = fail = 0
names = only if only else sorted(oracle.keys())
# Per-query verdicts, dumped to {OUT}/oracle_check_results.json so a
# lint-only failure is captured in an artifact, not just stdout
# (ADVICE r9: TYPELINT failures were invisible in the JSON verdict).
results = {}

# Type lint: an oracle whose FINAL output carries a DuckDB-only type
# (HUGEINT from an uncast sum(), DECIMAL, UINT*) renders differently from
# the Spark parquet in the driver's gate even when values are equal —
# this was the root cause of the 7 r7/r8 hash-only mismatches (bisected
# and fixed in r9; the q_dbg_hugeint_* probes are retired). Extend
# ALLOWED_TYPES deliberately as new output types appear — each addition
# needs a rendering pin like q_dbg_render_edges proving Spark parquet
# and DuckDB canon agree for that type.
ALLOWED_TYPES = {"BIGINT", "INTEGER", "VARCHAR", "BOOLEAN", "DOUBLE",
                 "SMALLINT", "TINYINT"}
for name in names:
    sql = oracle.get(name)
    if sql is None:
        continue
    try:
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception:
        continue  # execution errors surface in the main loop below
    bad = [(c, t) for c, t, *_ in desc if t.split("(")[0] not in ALLOWED_TYPES]
    if bad:
        print(f"TYPELINT {name}: non-portable output types {bad}")
        results[name] = {"status": "fail", "err": f"typelint: {bad}"}
        fail += 1

def mark_fail(name, err):
    """One fail per query: merge value-level errors into an existing
    (e.g. TYPELINT) verdict instead of overwriting/double-counting."""
    global fail
    if results.get(name, {}).get("status") == "fail":
        results[name]["err"] += f"; {err}"
    else:
        results[name] = {"status": "fail", "err": err}
        fail += 1

for name in names:
    sql = oracle.get(name)
    pq = f"{OUT}/{name}"
    if not os.path.isdir(pq):
        print(f"MISSING  {name} (no spark output)")
        mark_fail(name, "missing spark output"); continue
    try:
        scols, srows = (lambda r: ([d[0] for d in r.description], r.fetchall()))(
            con.execute(f"SELECT * FROM '{pq}/*.parquet'"))
        dcols, drows = (lambda r: ([d[0] for d in r.description], r.fetchall()))(
            con.execute(sql))
    except Exception as e:
        print(f"ERROR    {name}: {str(e).splitlines()[0]}")
        mark_fail(name, str(e).splitlines()[0]); continue
    if sorted(scols) != sorted(dcols):
        print(f"SCHEMA   {name}: spark={sorted(scols)} duck={sorted(dcols)}")
        mark_fail(name, "schema mismatch"); continue
    if len(srows) != len(drows):
        print(f"ROWS     {name}: spark={len(srows)} duck={len(drows)}")
        mark_fail(name, f"rows spark={len(srows)} duck={len(drows)}")
        continue
    hs, hd = table_hash(scols, srows), table_hash(dcols, drows)
    if hs != hd:
        print(f"HASH     {name}: spark={hs[:12]} duck={hd[:12]} ({len(srows)} rows)")
        # show first differing row for debugging
        idx_s = sorted(range(len(scols)), key=lambda i: scols[i])
        idx_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
        ls = sorted("\x01".join(canon(r[i]) for i in idx_s) for r in srows)
        ld = sorted("\x01".join(canon(r[i]) for i in idx_d) for r in drows)
        for a, b in zip(ls, ld):
            if a != b:
                print(f"  cols:  {sorted(scols)}")
                print(f"  spark: {a.split(chr(1))}")
                print(f"  duck:  {b.split(chr(1))}")
                break
        mark_fail(name, "hash mismatch"); continue
    # a TYPELINT-failed query that passes the value check stays a fail
    # (and is not also counted ok) — the OK line annotates instead
    if results.get(name, {}).get("status") == "fail":
        print(f"OK-VALUES {name} ({len(srows)} rows; typelint verdict stands)")
    else:
        print(f"OK       {name} ({len(srows)} rows)")
        results[name] = {"status": "ok", "rows": len(srows)}
        ok += 1
    # cross-check graft.Verify's Scala canon hash against ours: a
    # divergence here means HASHES.json wouldn't expose a driver-side
    # mismatch faithfully for this query (float/temporal canon drift).
    want = scala_hashes.get(name)
    if want is not None and want != f"{len(srows)}:{hs}":
        print(f"  CANON-DRIFT {name}: scala={want} py={len(srows)}:{hs}")

with open(f"{OUT}/oracle_check_results.json", "w") as f:
    json.dump(results, f, indent=1, sort_keys=True)

# Informational only (never part of the verdict or the exit code): which
# checked queries' HASHES.json entries differ from the committed sf0.01
# snapshot, so a byte-identity claim needs no hand diff.
snapshot = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                        "HASHES_local.json")
if os.path.exists(snapshot):
    ref = json.load(open(snapshot))
    differ = [n for n in names if scala_hashes.get(n) != ref.get(n)]
    print(f"\nHASHES_local.json: {len(differ)} differ / {len(names)} compared"
          + (": " + ", ".join(differ) if differ else ""))
print(f"\n{ok} ok, {fail} failed / {len(names)} checked")
sys.exit(1 if fail else 0)
