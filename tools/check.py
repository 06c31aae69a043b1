#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run after
`sbt "runMain graft.Verify <sfDir> <outDir>"`, compares each dumped
parquet against the DuckDB oracle SQL on the same testdata tables."""
import atexit, json, sys, glob, os, shutil, tempfile
import duckdb

strict_order = "--strict-order" in sys.argv
argv = [a for a in sys.argv if a != "--strict-order"]
sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
out_dir = argv[2] if len(argv) > 2 else "/tmp/verify_out"

# DuckDB's default memory limit is 80% of RAM, and it fills it. Cap it at
# half of physical memory (MemTotal): a whole sf0.01 compare peaks at about
# 2.2 GB on a 4-vCPU, 16 GB VM. The tree×multi twins stay that small only
# while their level CTEs are MATERIALIZED; inlined, one of them alone held
# 10.7 GB. The temp directory lets the operators that can spill do so
# instead of failing.
spill_dir = tempfile.mkdtemp(prefix="check-duckdb-", dir="/tmp")
atexit.register(shutil.rmtree, spill_dir, True)
mem_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
con = duckdb.connect(config={"memory_limit": f"{mem_mib}MiB",
                             "temp_directory": spill_dir})
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    # driver-generated SF dirs hold single parquet FILES; ScaleUp output
    # holds Spark-written DIRECTORIES of part files — accept both
    p = f"{sf_dir}/{t}.parquet"
    pat = p if os.path.isfile(p) else f"{p}/*.parquet"
    con.sql(f"CREATE VIEW {t} AS FROM '{pat}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

# ---- output-dtype contract (round-9 gate) ----
# The driver's compare hashes TYPED values, so both sides must surface
# results in the blessed type set; anything else (INT32 from a VALUES
# list, HUGEINT/DECIMAL sums, float32) has hash-failed twice before
# (r5 q_expectations, r8 q_bootstrap). The duckdb->pandas path LAUNDERS
# types (HUGEINT/DECIMAL -> float64), which is exactly how those two
# escaped the old value-compare — so the gate reads the TRUE types:
# spark via the parquet footer (pyarrow), duck via relation.types (the
# same relation whose rows are compared, so each oracle SQL binds once).
BLESSED_ARROW = ("int64", "double", "string", "large_string", "bool",
                 "date32", "timestamp")
BLESSED_DUCK = {"BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
                "TIMESTAMP", "TIMESTAMP_NS"}
def dtype_violations(res_path, rel):
    import pyarrow.parquet as pq
    v = []
    files = glob.glob(f"{res_path}/*.parquet")
    if files:
        for f in pq.read_schema(files[0]):
            if not str(f.type).startswith(BLESSED_ARROW):
                v.append(f"spark {f.name}: {f.type}")
    if rel is not None:  # SQL errors surface in the value compare below
        for cn, ct in zip(rel.columns, rel.types):
            if str(ct).split("(")[0] not in BLESSED_DUCK:
                v.append(f"oracle {cn}: {ct}")
    return v

ok, bad = [], []
for name, sql in sorted(oracle.items()):
    res_path = f"{out_dir}/{name}"
    if not glob.glob(f"{res_path}/*.parquet"):
        bad.append((name, "NO RESULT DUMPED")); continue
    try:
        rel, sql_error = con.sql(sql), None
    except Exception as e:
        rel, sql_error = None, e
    dv = dtype_violations(res_path, rel)
    if dv:
        bad.append((name, f"DTYPE CONTRACT: {dv}")); continue
    try:
        if sql_error is not None:
            raise sql_error
        spark_df = con.sql(f"FROM '{res_path}/*.parquet'").df()
        duck_df = rel.df()
    except Exception as e:
        bad.append((name, f"SQL ERROR: {e}")); continue
    sc = sorted(spark_df.columns); dc = sorted(duck_df.columns)
    if sc != dc:
        bad.append((name, f"COLUMNS spark={sc} duck={dc}")); continue
    if strict_order:
        # compare rows exactly as produced (insurance against an
        # order-sensitive driver compare)
        a = spark_df[sc].reset_index(drop=True)
        b = duck_df[sc].reset_index(drop=True)
    else:
        a = spark_df[sc].sort_values(sc).reset_index(drop=True)
        b = duck_df[sc].sort_values(sc).reset_index(drop=True)
    if len(a) != len(b):
        bad.append((name, f"ROWS spark={len(a)} duck={len(b)}")); continue
    try:
        import pandas as pd
        diff_cols = []
        for c in sc:
            av, bv = a[c], b[c]
            # Driver-compare strictness: the official gate hashes typed
            # values, so an int64 on one side vs float64 on the other
            # (e.g. DuckDB HUGEINT surfacing as float64 against Spark's
            # BIGINT) hash-fails even when numerically equal. A tolerant
            # numeric compare here let exactly that slip in round 5
            # (q_expectations) — flag the kind mismatch instead.
            ak, bk = av.dtype.kind, bv.dtype.kind
            if (ak == 'f') != (bk == 'f') and {ak, bk} <= {'f', 'i', 'u'}:
                diff_cols.append(c)
            # integer WIDTH mismatches (int32 vs int64) pass the kind
            # check but can still hash-fail the driver — the r8
            # q_bootstrap escape. The dtype-contract gate above should
            # make this unreachable; belt and braces.
            elif {ak, bk} <= {'i', 'u'} and av.dtype != bv.dtype:
                diff_cols.append(c)
            elif av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                # Null masks must agree FIRST: a null/NaN on one side where
                # the other has a real value is a diff (the old fillna(0)
                # compare silently passed exactly that case).
                am, bm = av.isna(), bv.isna()
                if not (am == bm).all():
                    diff_cols.append(c)
                elif not ((av[~am] - bv[~bm]).abs() <= 1e-12).all():
                    diff_cols.append(c)
            else:
                am, bm = av.isna(), bv.isna()
                if not (am == bm).all():
                    diff_cols.append(c)
                elif not (av[~am].astype(str) == bv[~bm].astype(str)).all():
                    diff_cols.append(c)
        if diff_cols:
            bad.append((name, f"VALUES differ in {diff_cols}"))
            for c in diff_cols[:2]:
                m = (a[c].astype(str) != b[c].astype(str))
                print(f"  {name}.{c}: first diffs\n   spark: {a[m][c].head(3).tolist()}\n   duck : {b[m][c].head(3).tolist()}")
        else:
            ok.append((name, len(a)))
    except Exception as e:
        bad.append((name, f"COMPARE ERROR: {e}"))

for n, r in ok: print(f"PASS {n} ({r} rows)")
for n, r in bad: print(f"FAIL {n}: {r}")
print(f"\n{len(ok)}/{len(ok)+len(bad)} pass")
sys.exit(1 if bad else 0)
