#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_r2 /root/testdata/sf0.01 [timeout_s]

For each <name>/ parquet dir in outDir, runs oracle_sql.json[name] in DuckDB
(with each sf table registered as a view) and compares: row count, column
names (sorted), and values (columns sorted by name, rows sorted by repr).

The optional third arg caps each ORACLE's DuckDB runtime (seconds). Several
oracles are deliberately exact where the engine is bucketed (all-pairs
near-dup verify, full n-by-k IVF assignment) — at sf10 those mirrors are
quadratic in DuckDB by design; the cap records them as TIMEOUT rather than
hanging the sweep, and TIMEOUT rows are counted separately from failures.
"""
import sys, os, json, glob, threading
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize numeric types for comparison
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    rows = sorted(df.itertuples(index=False, name=None), key=repr)
    return pd.DataFrame(rows, columns=df.columns)

def connect(sf_dir):
    con = duckdb.connect()
    # Bound the mirror's memory and let it spill: an interrupted (timed-out)
    # deliberately-exact n-by-k mirror otherwise balloons to the process
    # OOM-kill line before its timer fires, taking the whole sweep batch
    # down with it (observed round 9: b8_embed_a died after its first
    # timeout and lost the rest of the batch's rows).
    # Overridable (ADVICE r9 #4): on a host with less RAM / a small /tmp the
    # hardcoded bound either fails to protect or fills the root partition.
    # Fail fast on malformed overrides (ADVICE r10): these values are
    # interpolated into SET statements, so a typo'd or quote-bearing value
    # otherwise surfaces as an obscure mid-sweep SQL error hours in.
    import re
    mem = os.environ.get("ORACLE_MEM", "24GB")
    if not re.fullmatch(r"[0-9]+(\.[0-9]+)?\s*[KMGT]i?B", mem, re.I):
        sys.exit(f"ORACLE_MEM={mem!r} is not a size like '24GB'")
    tmp = os.environ.get("ORACLE_TMP", "/tmp/duckdb_spill")
    if "'" in tmp or not os.path.isabs(tmp):
        sys.exit(f"ORACLE_TMP={tmp!r} must be an absolute path without quotes")
    con.execute(f"SET memory_limit='{mem}'")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = None
        if os.path.isdir(p):  # Spark-written dataset dir (GenScale sf1 corpus)
            src = f"read_parquet('{p}/*.parquet')"
        elif os.path.exists(p):
            src = f"read_parquet('{p}')"
        if src is None:
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con

def load_preclassified():
    """ORACLE_PRECLASSIFY=<path to mirror_families.txt> marks the listed
    queries' mirrors as known timeout-class (deliberately exact; each
    family has a measured over-cap representative in BASELINE.md): they
    are reported as annotated TIMEOUTs without burning the cap on each —
    a 20-mirror × 900 s replay of already-measured quadratic work."""
    path = os.environ.get("ORACLE_PRECLASSIFY")
    if not path:
        return {}
    fams = {}
    for line in open(path):
        line = line.strip()
        if line and not line.startswith("#"):
            name, fam = line.split(None, 1)
            fams[name] = fam
    return fams

def free_gb(path):
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 1e9

def main(out_dir, sf_dir, timeout_s=None):
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    preclass = load_preclassified()
    # ENOSPC pre-flight (VERDICT r12 #6): the r12 dixfam sweep lost a
    # mirror run to a full spill dir mid-query — the memory_limit guard
    # bounds RAM, not disk. Check free space on the spill filesystem
    # BEFORE launching each mirror; a skipped mirror is reported as a
    # TIMEOUT-class row (evidence gap, surfaced loudly by sweep_summary
    # unless classified) instead of dying hours in with ENOSPC.
    min_free = float(os.environ.get("ORACLE_MIN_FREE_GB", "20"))
    spill_dir = os.environ.get("ORACLE_TMP", "/tmp/duckdb_spill")
    os.makedirs(spill_dir, exist_ok=True)
    n_pass = n_fail = n_timeout = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"MISS  {name}: no parquet output"); n_fail += 1; continue
        got = pd.read_parquet(files[0]) if len(files) == 1 else pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracles:
            print(f"SKIP  {name}: no oracle ({len(got)} rows)"); continue
        if name in preclass:
            print(f"TIMEOUT {name}: pre-classified mirror family "
                  f"[{preclass[name]}], not re-run (engine output present: "
                  f"{len(got)} rows)")
            n_timeout += 1
            continue
        avail = free_gb(spill_dir)
        if avail < min_free:
            print(f"TIMEOUT {name}: disk pre-flight — only {avail:.1f} GB free on "
                  f"{spill_dir} (< ORACLE_MIN_FREE_GB={min_free:g}); mirror not "
                  f"launched to avoid a mid-query ENOSPC")
            n_timeout += 1
            continue
        timer = None
        timed_out = []
        if timeout_s:
            timer = threading.Timer(timeout_s, lambda: (timed_out.append(True), con.interrupt()))
            timer.start()
        try:
            import time
            t0 = time.time()
            exp = con.execute(oracles[name]).df()
            dt = time.time() - t0
        except Exception as e:
            if timed_out:
                print(f"TIMEOUT {name}: oracle exceeded {timeout_s}s (deliberately-exact mirror)")
                n_timeout += 1
                # fresh connection: the interrupted query's operator state is
                # torn down with the old one instead of lingering
                try: con.close()
                except Exception: pass
                con = connect(sf_dir)
            else:
                print(f"ERR   {name}: oracle SQL failed: {e}"); n_fail += 1
            continue
        finally:
            if timer:
                timer.cancel()
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs oracle {list(e.columns)}"); n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs oracle {len(e)}"); n_fail += 1; continue
        try:
            # Driver-strict (VERDICT r3 #2, third listing): dtypes must match
            # and values must be exact — both engines are built to produce
            # bit-identical results (integer-cents sums, portable hashing),
            # so any inexactness here is a real bug the driver would flag.
            pd.testing.assert_frame_equal(g.reset_index(drop=True), e.reset_index(drop=True),
                                          check_dtype=True, check_exact=True)
            print(f"PASS  {name} ({len(g)} rows, oracle {dt:.1f}s)"); n_pass += 1
        except AssertionError as ex:
            msg = str(ex).splitlines()
            print(f"FAIL  {name}: {msg[0]} | {' '.join(msg[1:4])}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail" + (f", {n_timeout} timeout" if n_timeout else ""))
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  float(sys.argv[3]) if len(sys.argv) > 3 else None))
