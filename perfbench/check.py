"""Correctness checks, run after the timed phases.

Query workloads: each op's result against graft's DuckDB oracle SQL on
the generated tables, compared the way ``tools/local_check.py`` does.
etl_stream: the stream's per-batch outputs against the batch twins the
JVM wrote and against the generator's manifest.

Both return {op name: reason} for every op whose result is wrong.
"""
import glob
import json
import os
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen_tables import TABLES


def _read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.reset_index(drop=True)


def _compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != oracle {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype) == "object" or str(e.dtype) == "object":
            eq = (g.astype(str) == e.astype(str)) | (g.isna() & e.isna())
        else:
            eq = (g == e) | (g.isna() & e.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: {g[i]!r} != oracle {e[i]!r}"
    return None


def check_queries(data_dir, work, ops, jvm_failed):
    """Compare each op's check output with its oracle; rows-only for ops
    without one (a non-empty result is required)."""
    wrong = {}
    for k, v in jvm_failed.items():
        if k.startswith("aux:"):
            continue
        wrong[k] = f"check run failed: {v}"
    oracle = json.load(open(os.path.join(work, "oracle_sql.json"), encoding="utf-8"))
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in sorted(set(ops)):
        if name in wrong:
            continue
        got = _read_dir(os.path.join(work, "check", name))
        if got is None:
            wrong[name] = "no output"
            continue
        if name not in oracle:
            if len(got) == 0:
                wrong[name] = "empty result and no oracle"
            continue
        try:
            t = time.time()
            exp = con.execute(oracle[name]).df()
            print(f"oracle {name}: {time.time() - t:.1f}s", file=sys.stderr)
        except Exception as e:  # a missing aux dump surfaces here
            wrong[name] = f"oracle error: {str(e)[:200]}"
            continue
        reason = _compare(_norm(got), _norm(exp))
        if reason:
            wrong[name] = reason
    con.close()
    return wrong


def check_stream(work, manifest, jvm_check):
    """etl_stream: for every day moved into the watched directory, the
    per-batch extract union == FundEtl.ingestFrom over the processed days
    == the manifest; stream pairs == batch recompute.  A processed day
    with no rows, in either the stream or the batch ingest, is wrong.
    Returns ({day: reason}, {"files": n, "valid": n})."""
    wrong = {}
    for k, v in jvm_check["failed"].items():
        wrong["*"] = f"check run failed: {k}: {v}"
    if wrong:
        return wrong, {"files": 0, "valid": 0}
    watch = jvm_check["watch_dir"]
    days = sorted(d for d in os.listdir(watch) if os.path.isdir(os.path.join(watch, d)))
    if not days:
        wrong["*"] = "no day was processed"
    if len(days) != jvm_check["days_processed"]:
        wrong["*"] = f"{len(days)} day folders watched, {jvm_check['days_processed']} processed"
    streamed = _read_dir(jvm_check["extracted_dir"])
    batch = _read_dir(os.path.join(work, "check", "ingest_full"))
    if batch is None:
        return {d: "no rows for the day in the batch ingest" for d in days}, \
            {"files": 0, "valid": 0}
    cols = list(batch.columns)
    if streamed is not None and set(streamed.columns) != set(cols):
        wrong["*"] = f"stream extract columns {sorted(streamed.columns)} != {sorted(cols)}"
        streamed = None

    def rows_by_day(df):
        out = {}
        if df is None:
            return out
        for r in df[cols].astype(object).where(df[cols].notna(), None).itertuples(index=False):
            out.setdefault(r.batch_date, []).append(tuple(r))
        return {d: sorted(v, key=repr) for d, v in out.items()}

    s_days, b_days = rows_by_day(streamed), rows_by_day(batch)
    for d in days:
        if d not in b_days:
            wrong[d] = "no rows for the day in the batch ingest"
        elif d not in s_days:
            wrong[d] = "no rows for the day in the stream extract"
        elif s_days[d] != b_days[d]:
            wrong[d] = "stream extract differs from the batch ingest"
    for d in (set(s_days) | set(b_days)) - set(days):
        wrong[d] = "rows for a day that was never moved into the watched directory"
    by_file = {r["file_name"]: r for r in batch.to_dict("records")}
    for m in manifest:
        if m["trade_date"] not in days:
            continue
        r = by_file.get(m["file"])
        if r is None:
            wrong[m["trade_date"]] = f"{m['file']} missing from the ingest"
            continue
        got = {"platform": r["platform"], "biz_type": r["biz_type"],
               "fund_code": r["fund_code"] if isinstance(r["fund_code"], str) else None,
               "amount": None if pd.isna(r["amount"]) else round(r["amount"] * 100),
               "fee": None if pd.isna(r["fee"]) else round(r["fee"] * 100),
               "trade_date": r["trade_date"], "valid": bool(r["valid"])}
        exp = {k: m[k] for k in got}
        if got != exp:
            diff = {k: (got[k], exp[k]) for k in got if got[k] != exp[k]}
            wrong[m["trade_date"]] = f"{m['file']} differs from the manifest: {diff}"
    doc_days = _read_dir(os.path.join(work, "check", "doc_days"))
    day_of = {} if doc_days is None else \
        dict(doc_days[["doc_id", "batch_date"]].itertuples(index=False))

    def pair_set(df):
        if df is None:
            return set()
        return {(int(a), int(b), round(j * 10000))
                for a, b, j in df[["doc_a", "doc_b", "est_jaccard"]].itertuples(index=False)}

    s_pairs = pair_set(_read_dir(jvm_check["pairs_dir"]))
    b_pairs = pair_set(_read_dir(os.path.join(work, "check", "pairs_batch")))
    for a, b, _ in s_pairs ^ b_pairs:
        wrong[max(day_of.get(a, ""), day_of.get(b, "")) or "?"] = \
            "stream pairs differ from the batch recompute"
    return wrong, {"files": len(batch), "valid": int(batch["valid"].sum())}
