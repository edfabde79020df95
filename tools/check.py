#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool only — the
shipped library is pure Scala/Spark; this just mimics the DuckDB compare).

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]
         [--cte-db PATH] [--build-cte-cache PATH]

Reads each <out>/<name> parquet (Spark result) and runs the matching SQL
from <out>/oracle_sql.json in DuckDB with views over <sf_dir>/*.parquet,
then compares: columns sorted by name, exact value equality, row order.

--build-cte-cache PATH: materialize the shared near-dup components CTE
  block (q45's WITH RECURSIVE chain) into a cache database once, then
  exit. --cte-db PATH: attach that cache read-only and rewrite oracles
  that embed the block to read it — same results, one closure
  computation per sweep instead of one per oracle reference.
"""
import json, re, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ---- shared components-CTE cache (sf1 sweep aid) -------------------------
# 13 oracles embed the near-dup-graph block (shingles -> pairwise Jaccard ->
# edges -> recursive connected components) verbatim; at sf1 DuckDB re-executes
# it per reference and the recursive closure alone spills ~78 GB, so the
# sweep can materialize the block ONCE into a cache database and rewrite the
# oracles to read it. The block text is taken from the dumped q45 oracle
# (always current — no second copy of the SQL to drift), and the rewrite is
# an exact-prefix string replacement, so a changed block simply disables the
# cache instead of corrupting a compare.
CTE_PREFIX = "WITH RECURSIVE "
CTE_SUFFIX = "SELECT doc, comp FROM labels ORDER BY doc"

def components_block(oracle):
    """The shared CTE block text, or None if q45's shape changed."""
    q = oracle.get("q45_dedup_components")
    if q and q.startswith(CTE_PREFIX) and q.rstrip().endswith(CTE_SUFFIX):
        return q[len(CTE_PREFIX):q.rindex(CTE_SUFFIX)].rstrip().rstrip("\n")
    return None

def parse_ctes(block):
    """[(name, body)] by scanning 'name AS ( ... )' at paren depth 0."""
    ctes, i, n = [], 0, len(block)
    pat = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+\(", re.S)
    while i < n:
        m = pat.match(block, i)
        if not m:
            raise ValueError(f"CTE parse failed at {block[i:i+50]!r}")
        name, j, depth = m.group(1), m.end(), 1
        while depth > 0:
            c = block[j]
            depth += (c == "(") - (c == ")")
            j += 1
        ctes.append((name, block[m.end():j - 1]))
        i = j
        while i < n and block[i] in ", \n":
            i += 1
    return ctes

def build_cte_cache(sf, block, dbpath):
    """Materialize the block's CTEs into `dbpath`, each computed once, in
    dependency order (the recursive reach/labels pair runs as one
    statement — reach itself is the per-component-quadratic closure and is
    deliberately NOT stored)."""
    if os.path.exists(dbpath):
        os.remove(dbpath)
    ctes = dict(parse_ctes(block))
    order = [n for n, _ in parse_ctes(block)]
    con = duckdb.connect(dbpath)
    p = f"{sf}/documents.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    for name in order:
        if name == "reach":
            continue
        if name == "labels":
            con.execute("CREATE TABLE labels AS WITH RECURSIVE reach AS "
                        f"({ctes['reach']}) {ctes['labels']}")
        else:
            con.execute(f"CREATE TABLE {name} AS {ctes[name]}")
    con.close()

def cached_names(block):
    """The table names build_cte_cache stores for this block: every parsed
    CTE except the recursive closure `reach` (deliberately not stored).
    Derived from the SAME parse the builder uses, so a renamed/added CTE
    can never leave the rewrite aliasing tables the cache doesn't hold."""
    return [n for n, _ in parse_ctes(block) if n != "reach"]

def rewrite_with_cache(sql, block):
    """Swap the embedded block for reads of the attached cache db."""
    target = CTE_PREFIX + block
    if not sql.startswith(target):
        return sql
    rest = sql[len(target):]
    if re.search(r"\breach\b", rest):
        return sql  # tail uses the closure itself; cache doesn't store it
    aliases = ", ".join(f"{n} AS (SELECT * FROM cte.{n})" for n in cached_names(block))
    sep = "" if rest.startswith(",") else " "
    # keep RECURSIVE: some tails (q121/q126) declare their own recursive
    # CTEs; the keyword is harmless for the plain cache aliases
    return "WITH RECURSIVE " + aliases + sep + rest

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def main():
    argv = list(sys.argv[1:])
    cte_db = build_db = None
    if "--cte-db" in argv:
        i = argv.index("--cte-db")
        cte_db = argv[i + 1]
        del argv[i:i + 2]
    if "--build-cte-cache" in argv:
        i = argv.index("--build-cte-cache")
        build_db = argv[i + 1]
        del argv[i:i + 2]
    out, sf = argv[0], argv[1]
    only = set(argv[2:])
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    block = components_block(oracle)
    if build_db:
        if block is None:
            sys.exit("ERROR: q45 oracle shape changed; cannot build CTE cache")
        build_cte_cache(sf, block, build_db)
        n = sum(1 for v in oracle.values() if v.startswith(CTE_PREFIX + block))
        print(f"built CTE cache {build_db} (serves {n} oracles)")
        return
    unknown = only - set(oracle)
    if unknown:
        sys.exit(f"ERROR: unknown query name(s) {sorted(unknown)}; "
                 f"known: {sorted(oracle)}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table: a DIRECTORY of parts
            p = f"{p}/*.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    if cte_db:
        con.execute(f"ATTACH '{cte_db}' AS cte (READ_ONLY)")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output");  n_fail += 1;  continue
        spark_df = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
        sql = oracle[name]
        if cte_db and block is not None:
            sql = rewrite_with_cache(sql, block)
        try:
            duck_df = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}");  n_fail += 1;  continue
        ok = True
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            ok = False
        elif len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            ok = False
        else:
            # dtype check (schema match), then exact values
            for c in spark_df.columns:
                if str(spark_df[c].dtype) != str(duck_df[c].dtype):
                    print(f"WARN {name}: dtype[{c}] spark={spark_df[c].dtype} duck={duck_df[c].dtype}")
            try:
                pd.testing.assert_frame_equal(spark_df, duck_df, check_dtype=False,
                                              check_exact=True)
            except AssertionError as e:
                # row-order-insensitive retry to classify the failure
                s2 = spark_df.sort_values(list(spark_df.columns)).reset_index(drop=True)
                d2 = duck_df.sort_values(list(duck_df.columns)).reset_index(drop=True)
                try:
                    pd.testing.assert_frame_equal(s2, d2, check_dtype=False, check_exact=True)
                    print(f"FAIL {name}: values match but ROW ORDER differs")
                except AssertionError:
                    print(f"FAIL {name}: value mismatch: {str(e).splitlines()[-3:]}")
                ok = False
        if ok:
            print(f"PASS {name} ({len(spark_df)} rows)");  n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if n_pass + n_fail == 0:
        sys.exit("ERROR: zero queries compared — nothing was checked")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
