#!/usr/bin/env python3
"""Local rehearsal of the driver's t2 DuckDB-oracle compare (SURVEY.md §5.2).

Usage: python3 scripts/check_oracle.py <verify_out_dir> [sf_dir] [only_csv]

Mimics the driver faithfully (CORRECTNESS_r01.json behavior):
  - spark side: pyarrow.parquet -> pandas; oracle side: duckdb .df()
  - both frames sorted with pandas sort_values over all (name-sorted)
    columns — list/ndarray cells CRASH this, exactly like the driver
  - cells compared by exact str() equality — so a Decimal('0.0000') vs
    float 0.0 repr difference FAILS, exactly like the driver's hash
Exit 1 on any mismatch.
"""
import duckdb, json, math, sys
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell_repr(v):
    # NaN == NaN for comparison purposes; everything else by exact str().
    try:
        if v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
            return "<null>"
    except (TypeError, ValueError):
        pass  # arrays etc. — fall through to repr
    return repr(v)


def norm(df, cols):
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return df


def main():
    outdir = sys.argv[1]
    sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sql = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    names = [n for n in sorted(sql) if not only or n in only]
    fails = []

    def fail(name, reason):
        # printed as it happens, so a long run shows its failures early
        fails.append(name)
        print(f"FAIL {name}: {reason}", flush=True)

    for name in names:
        try:
            want = con.execute(sql[name]).df()
            got = pq.read_table(f"{outdir}/{name}").to_pandas()
            wn, gn = sorted(want.columns), sorted(got.columns)
            if wn != gn:
                fail(name, f"cols spark={gn} duck={wn}")
                continue
            if len(want) != len(got):
                fail(name, f"rows spark={len(got)} duck={len(want)}")
                continue
            w, g = norm(want, wn), norm(got, wn)
            dt_diff = [k for k in wn if str(w[k].dtype) != str(g[k].dtype)]
            if dt_diff:
                print(f"WARN {name}: dtype differs for {dt_diff} "
                      f"(spark={[str(g[k].dtype) for k in dt_diff]}, "
                      f"duck={[str(w[k].dtype) for k in dt_diff]})")
            bad = None
            for k in wn:
                gv, wv = g[k].tolist(), w[k].tolist()
                for i in range(len(gv)):
                    if cell_repr(gv[i]) != cell_repr(wv[i]):
                        bad = (i, k, cell_repr(gv[i]), cell_repr(wv[i]))
                        break
                if bad:
                    break
            if bad:
                fail(name, f"row {bad[0]} col {bad[1]}: spark={bad[2]} duck={bad[3]}")
            else:
                print(f"OK   {name} ({len(g)} rows)", flush=True)
        except Exception as e:
            fail(name, f"EXC {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{len(names) - len(fails)}/{len(names)} oracle queries match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
