"""DuckDB oracle comparison of the query outputs a run wrote.

Same rules as the repository's scripts/check_oracle.py: column names
compared sorted, then row counts, then exact values (floats at full
precision), in emitted row order or, failing that, after sorting rows.
On the generated inputs two more checks apply: every checked query
returns at least one row, and d1_exact_dedup finds every planted exact
duplicate.
"""
import glob
import json
import math
import os
import threading

import duckdb
import pandas as pd
import pyarrow.parquet as pq

ORACLE_LIMIT_S = 60  # a DuckDB oracle query running longer fails its check
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def read_output(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pq.read_table(p).to_pandas() for p in parts],
                     ignore_index=True)


def compare_one(con, out_dir, name, sql):
    got = read_output(os.path.join(out_dir, name))
    want = con.execute(sql).fetchdf()
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return False, f"columns {gcols} != {wcols}"
    got, want = got[gcols], want[wcols]
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    grows = [tuple(canon(v) for v in r) for r in got.itertuples(index=False)]
    wrows = [tuple(canon(v) for v in r) for r in want.itertuples(index=False)]
    if grows != wrows and sorted(grows) != sorted(wrows):
        bad = [i for i, (g, w) in enumerate(zip(grows, wrows)) if g != w][:2]
        return False, "value mismatch at rows %s: spark %s duckdb %s" % (
            bad, [grows[i] for i in bad], [wrows[i] for i in bad])
    return True, f"{len(got)} rows"


def compare(out_dir, data_dir, planted):
    """Returns [(check, ok, detail)] for every output under out_dir."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET enable_progress_bar=false")
    # pl23's recursive oracle fails at a 4 GB limit on 500 documents yet
    # stays under 1 GB resident: DuckDB spills its blocks to temp_directory
    con.execute("SET memory_limit='8GB'")
    con.execute(f"SET temp_directory='{out_dir}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    report = []
    for name, sql in sorted(oracle.items()):
        watchdog = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        watchdog.start()
        try:
            ok, detail = compare_one(con, out_dir, name, sql)
        except Exception as e:  # a failing query or oracle is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"[:300]
        finally:
            watchdog.cancel()
        report.append((name, ok, detail))
        try:
            rows = pq.read_metadata(glob.glob(os.path.join(out_dir, name, "*.parquet"))[0]).num_rows
        except Exception:
            rows = 0
        report.append((f"{name} non-empty", rows > 0, f"{rows} rows"))
    if "d1_exact_dedup" in oracle:
        d1 = read_output(os.path.join(out_dir, "d1_exact_dedup"))
        found = set(d1.loc[~d1["is_canonical"].astype(bool), "doc_id"].tolist())
        missed = sorted(set(planted["exact"]) - found)
        report.append(("d1_exact_dedup recovers planted exact duplicates",
                       not missed, f"{len(planted['exact'])} planted, missed {missed[:5]}"))
    con.close()
    return report
