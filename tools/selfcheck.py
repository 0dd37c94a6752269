#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate — TYPE-STRICT.

Runs `graft.Verify` output (parquet per query + oracle_sql.json) against
DuckDB on the same testdata tables and reports per-query match status.

The driver's hash canonicalization is type-sensitive: DuckDB typing a
sum() as HUGEINT (int128) where Spark emits BIGINT fails the driver even
when every value matches (this killed pl2/q2/t13 in round 4). So before
any value comparison this replica:
  1. hard-FAILs any oracle whose DuckDB result schema contains
     HUGEINT/INT128 (or UHUGEINT), with the offending column named;
  2. FAILs on DECIMAL oracle columns unless the Spark side is a decimal
     of the same precision/scale;
  3. compares the DuckDB declared types against the Spark parquet schema
     (pyarrow) column-by-column, canonicalized to type families — a
     BIGINT-vs-DOUBLE or INT32-vs-INT64 skew is a FAIL even if the values
     would stringify identically.

Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out
"""
import sys, json, glob, os, re
import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def duck_result_types(con, sql):
    """Declared (name, type-string) pairs of the oracle query, no rows run."""
    rel = con.sql(sql)
    return list(zip(rel.columns, [str(t).upper() for t in rel.types]))


def arrow_result_types(files):
    """(name, arrow-type-string) pairs from the Spark parquet output."""
    schema = pq.read_schema(files[0])
    return [(schema.field(i).name, str(schema.field(i).type).lower())
            for i in range(len(schema))]


def family(t: str):
    """Canonical type family for cross-engine comparison.

    Accepts either a DuckDB type string (upper) or an arrow type string
    (lower). Returns a tuple so decimals keep precision/scale.
    """
    u = t.upper()
    m = re.match(r"DECIMAL\((\d+),\s*(\d+)\)", u)
    if m:
        return ("decimal", int(m.group(1)), int(m.group(2)))
    m = re.match(r"DECIMAL128\((\d+),\s*(\d+)\)", u)
    if m:
        return ("decimal", int(m.group(1)), int(m.group(2)))
    if u in ("HUGEINT", "INT128", "UHUGEINT"):
        return ("int128",)
    if u in ("BIGINT", "INT64", "LONG", "UBIGINT"):
        return ("i64",)
    if u in ("INTEGER", "INT", "INT32", "UINTEGER"):
        return ("i32",)
    if u in ("SMALLINT", "INT16", "TINYINT", "INT8", "USMALLINT", "UTINYINT"):
        return ("i16",)
    if u in ("DOUBLE", "FLOAT64"):
        return ("f64",)
    if u in ("FLOAT", "REAL", "FLOAT32"):
        return ("f32",)
    if u in ("VARCHAR", "STRING", "TEXT", "LARGE_STRING"):
        return ("str",)
    if u in ("BOOLEAN", "BOOL"):
        return ("bool",)
    if u.startswith("TIMESTAMP"):
        return ("ts",)
    if u == "DATE" or u.startswith("DATE32"):
        return ("date",)
    if u.startswith("LIST") or u.startswith("LARGE_LIST") or "[]" in u:
        return ("list",)
    if u.startswith("STRUCT"):
        return ("struct",)
    if u.startswith("MAP"):
        return ("map",)
    return ("other", u)


def type_gate(name, duck_types, arrow_types):
    """Return an error string if the schemas disagree type-strictly."""
    dt = {c: t for c, t in duck_types}
    at = {c: t for c, t in arrow_types}
    for c, t in sorted(dt.items()):
        if family(t) == ("int128",):
            return (f"oracle types column `{c}` as {t} — DuckDB HUGEINT "
                    f"never hash-matches Spark; CAST(... AS BIGINT) it")
    if sorted(dt) != sorted(at):
        return f"column sets differ: oracle {sorted(dt)} vs spark {sorted(at)}"
    for c in sorted(dt):
        fd, fa = family(dt[c]), family(at[c])
        if fd[0] == "decimal" and fd != fa:
            return (f"oracle column `{c}` is {dt[c]} but spark side is "
                    f"{at[c]} — unexpected DECIMAL; CAST the oracle")
        if fd != fa:
            return (f"type skew in `{c}`: oracle {dt[c]} ({fd}) vs "
                    f"spark {at[c]} ({fa})")
    return None


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    # heavy oracles (e21's two maintenance rounds over a 10x corpus) can
    # exceed DuckDB's conservative default memory budget and spill tens of
    # GB; give it most of the box's RAM and keep any residual spill out of
    # the repo cwd (default temp dir is ./.tmp). The limit is derived from
    # PHYSICAL RAM (75%, matching DuckDB's own 80%-of-RAM posture) rather
    # than hardcoded, so a smaller box spills under its own budget instead
    # of OOM-killing; GRAFT_DUCKDB_MEM overrides for manual runs.
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if not mem:
        try:
            ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
            # no floor: on a tiny box 75% could round to 0..3GB, and
            # flooring it back UP past physical RAM would re-create the
            # OOM-kill — below 4GB usable, DuckDB's own default is safer
            mem = f"{int(ram_gb * 0.75)}GB" if ram_gb * 0.75 >= 4 else None
        except (ValueError, OSError):
            mem = None  # let DuckDB pick its RAM-aware default
    if mem:
        con.sql(f"SET memory_limit='{mem}'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        # driver testdata tables are single files; ScaleGen corpora are
        # Spark-written DIRECTORIES of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_noracle = 0
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(qdir)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            print(f"FAIL  {name}: no parquet output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            print(f"----  {name}: no oracle ({len(got)} rows)")
            n_noracle += 1
            continue
        try:
            duck_types = duck_result_types(con, oracle[name])
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {str(e)[:200]}")
            n_fail += 1
            continue
        terr = type_gate(name, duck_types, arrow_result_types(files))
        if terr:
            print(f"FAIL  {name}: TYPE: {terr}")
            n_fail += 1
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {str(e)[:200]}")
            n_fail += 1
            continue
        g, e = norm(got.copy()), norm(exp.copy())
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            n_fail += 1
            continue
        # pandas-dtype gate: after norm() both sides must materialize the
        # same dtypes (catches coercions the schema gate can't see, e.g.
        # a nullable int becoming float64 on only one side).
        dmis = [c for c in g.columns if str(g[c].dtype) != str(e[c].dtype)]
        if dmis:
            det = {c: (str(g[c].dtype), str(e[c].dtype)) for c in dmis}
            print(f"FAIL  {name}: DTYPE: spark-vs-oracle pandas dtypes {det}")
            n_fail += 1
            continue
        # value compare: exact on strings/ints, tolerant-then-exact report on floats
        mismatch = None
        for c in g.columns:
            gv, ev = g[c], e[c]
            if str(gv.dtype).startswith("float") or str(ev.dtype).startswith("float"):
                import numpy as np
                if not np.allclose(gv.fillna(-9e99), ev.fillna(-9e99), rtol=0, atol=1e-9):
                    mismatch = c
                    break
                if not (gv.fillna(-9e99) == ev.fillna(-9e99)).all():
                    print(f"WARN  {name}: column {c} equal only within 1e-9 (hash may differ)")
            else:
                if not (gv.astype(str) == ev.astype(str)).all():
                    mismatch = c
                    break
        if mismatch:
            print(f"FAIL  {name}: value mismatch in column {mismatch}")
            bad = (g[mismatch].astype(str) != e[mismatch].astype(str))
            print(pd.concat([g[bad].head(3), e[bad].head(3)], axis=1))
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(g)} rows)")
            n_pass += 1
    # every oracle names a query Verify was asked to run: a missing output
    # dir is a query that threw (or never ran), never a silent skip
    for name in sorted(oracle):
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"FAIL  {name}: no output dir (query failed or was not run)")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
