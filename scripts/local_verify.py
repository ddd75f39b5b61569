#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: after `sbt "runMain graft.Verify <sfDir> /tmp/graft_verify"`:
    python3 scripts/local_verify.py /root/testdata/sf0.01 /tmp/graft_verify

Loads each <name>/ parquet dumped by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sf parquet tables,
sorts columns by name, sorts rows, and compares values.

`--hash` additionally compares an md5 over the RENDERED cells (repr of
each value after canonicalization) — bit-faithful to the driver's
hash, which fails on rendering divergences that value-compare equal:
IEEE `-0.0 == 0.0` passes np.allclose but renders differently
(exactly the round-10 q_embed_cov miss).

`--gates a,b,...` checks only the named gates, for a targeted Verify
dump (`runMain graft.Verify <sfDir> <out> a,b,...`): a named gate
without output still FAILs, a name with no oracle entry is an error
(exit 2). Self-test: `python3 scripts/local_verify.py --selftest`.
"""
import sys, os, json, glob, hashlib, tempfile, contextlib, io
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    import datetime
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # a parquet DATE column loads as object-of-datetime.date
            # while DuckDB returns a midnight TIMESTAMP — same instant,
            # different dtype/rendering (the driver treats them equal);
            # canonicalize date-ish object columns to datetime64
            vals = df[c].dropna()
            if len(vals) and all(isinstance(v, (datetime.date, datetime.datetime)) for v in vals):
                df[c] = pd.to_datetime(df[c])
        if df[c].dtype == object:
            # normalize NULL spelling: DuckDB yields nan, parquet None
            df[c] = df[c].map(lambda v: "<NULL>" if pd.isna(v) else str(v))
        # normalize timestamps to ns, strip tz
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None) if getattr(df[c].dt, 'tz', None) else pd.to_datetime(df[c])
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def render_hash(df):
    """md5 over the rendered cells of a canon()'d frame — mimics the
    driver hashing the RENDERING, not the IEEE value: repr() of a
    Python float distinguishes -0.0 from 0.0 and renders shortest
    decimal, which is where engines that value-compare equal still
    diverge."""
    h = hashlib.md5()
    for c in df.columns:
        col = df[c]
        if np.issubdtype(col.dtype, np.floating):
            cells = [repr(float(v)) if not pd.isna(v) else "<NULL>" for v in col.values]
        elif str(col.dtype).startswith("datetime64"):
            # canonical epoch-ns int: parquet dumps are datetime64[ns],
            # DuckDB fetchdf is [us] — str() renders trailing-zero
            # subsecond digits differently for the SAME instant
            vals = col.astype("datetime64[ns]")
            cells = ["<NULL>" if pd.isna(v) else str(pd.Timestamp(v).value) for v in vals]
        else:
            cells = ["<NULL>" if pd.isna(v) else str(v) for v in col.values]
        h.update(("\x01".join([c] + cells)).encode())
    return h.hexdigest()

def first_render_diff(a, b):
    for c in a.columns:
        if np.issubdtype(a[c].dtype, np.floating):
            ra = [repr(float(v)) if not pd.isna(v) else "<NULL>" for v in a[c].values]
            rb = [repr(float(v)) if not pd.isna(v) else "<NULL>" for v in b[c].values]
            for i, (x, y) in enumerate(zip(ra, rb)):
                if x != y:
                    return f"COL {c} row {i}: rendered {x!r} vs {y!r}"
    return "render diff in non-float column ordering"

def compare(name, spark_df, duck_df, hash_mode=False):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating):
            ok = np.allclose(av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True)
            close = np.allclose(av.astype(float), bv.astype(float), rtol=1e-9, equal_nan=True)
            if not ok:
                return f"COL {c}: exact-mismatch (close={close}) e.g. {av[:3]} vs {bv[:3]}"
        else:
            eq = pd.Series(av).astype(str).eq(pd.Series(bv).astype(str))
            if not eq.all():
                i = int(np.argmin(eq.values))
                return f"COL {c}: mismatch at row {i}: {av[i]!r} vs {bv[i]!r}"
    if hash_mode and render_hash(a) != render_hash(b):
        return f"HASH mismatch (values equal): {first_render_diff(a, b)}"
    return None

def selftest():
    # the round-10 class: -0.0 vs 0.0 value-compare equal, hash-differ
    a = pd.DataFrame({"i": [0, 1], "cov": [0.0, 1.5]})
    b = pd.DataFrame({"i": [0, 1], "cov": [-0.0, 1.5]})
    assert compare("t", a, b, hash_mode=False) is None, "value compare must pass"
    err = compare("t", a, b, hash_mode=True)
    assert err and "HASH" in err and "-0.0" in err, f"hash mode must catch -0.0: {err}"
    print("selftest OK: hash mode distinguishes -0.0 from 0.0; value mode does not")
    # --gates: a targeted dump of q_a; q_b has an oracle but no output
    with tempfile.TemporaryDirectory() as out:
        json.dump({"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x"},
                  open(os.path.join(out, "oracle_sql.json"), "w"))
        os.makedirs(os.path.join(out, "q_a"))
        pd.DataFrame({"x": [1]}).to_parquet(os.path.join(out, "q_a", "part-0.parquet"))
        with contextlib.redirect_stdout(io.StringIO()):
            assert verify(out, out, False, ["q_a"]) == (1, 0), "named dumped gate must pass"
            assert verify(out, out, False, ["q_a", "q_b"]) == (1, 1), "named gate without output must FAIL"
            assert verify(out, out, False, None) == (1, 1), "no --gates checks every oracle gate"
        try:
            verify(out, out, False, ["q_a", "q_typo"])
            raise AssertionError("an unknown gate name must be an error")
        except ValueError as e:
            assert "q_typo" in str(e), e
    print("selftest OK: --gates checks only named gates, fails a named gate without output, rejects unknown names")
    sys.exit(0)

def verify(sf_dir, out_dir, hash_mode, gates):
    """Check the dump in `out_dir` against the oracle; `gates` (None =
    every oracle gate) restricts the check. Returns (n_ok, n_bad)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if gates is not None:
        unknown = sorted(set(gates) - set(oracle))
        if unknown:
            raise ValueError(f"unknown gate(s) {', '.join(unknown)}: no oracle_sql.json entry")
        oracle = {g: oracle[g] for g in gates}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table (scale replicas)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        pdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(pdir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            duck_df = con.execute(sql).fetchdf()
            err = compare(name, spark_df, duck_df, hash_mode=hash_mode)
        except Exception as e:
            err = f"EXCEPTION {e}"
        if err:
            print(f"FAIL {name}: {err}"); n_bad += 1
        else:
            print(f"OK   {name} ({len(spark_df)} rows)"); n_ok += 1
    if gates is None:
        # queries without oracle → rows-only check
        for pdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
            name = os.path.basename(pdir)
            if not os.path.isdir(pdir) or name in oracle:
                continue
            files = glob.glob(os.path.join(pdir, "*.parquet"))
            rows = sum(pd.read_parquet(f).shape[0] for f in files) if files else 0
            print(f"ROWS {name}: {rows}")
    return n_ok, n_bad

def main():
    argv = sys.argv[1:]
    if argv == ["--selftest"]:
        selftest()
    hash_mode = "--hash" in argv
    gates = None
    if "--gates" in argv:
        i = argv.index("--gates")
        if i + 1 >= len(argv):
            sys.exit("--gates needs a comma-separated list of gate names")
        gates = [g for g in argv[i + 1].split(",") if g]
        del argv[i:i + 2]
    args = [a for a in argv if a != "--hash"]
    sf_dir, out_dir = args[0], args[1]
    try:
        n_ok, n_bad = verify(sf_dir, out_dir, hash_mode, gates)
    except ValueError as e:
        print(f"ERROR {e}"); sys.exit(2)
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
