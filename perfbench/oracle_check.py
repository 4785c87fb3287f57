#!/usr/bin/env python3
"""Cross-check the llm_corpus pins against the DuckDB oracle.

    python3 perfbench/oracle_check.py

Writes the llm_corpus tables, runs the eight queries through graft.Verify
(one parquet result per query and oracle_sql.json) and compares each result
exactly with its `SparkEntry.oracleSql` run in DuckDB over the same tables
(columns by name, rows sorted). The pins in
perfbench/pins.json are checksums of these same results, so a pass here
means the pinned values are oracle-correct. Needs the duckdb Python module.
"""
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

QUERIES = ["q155_curation_stream_retract", "q160_bm25_stream_commit", "q164_ivf_requantize",
           "q113_ann_pq", "q145_ppr", "q78_ingest_pipeline", "q84_leakage_split",
           "q137_dedup_survivor"]


def main():
    if build.build() != 0:
        return 2
    base = os.path.join(build.OUT, "oracle")
    shutil.rmtree(base, ignore_errors=True)
    corpus, out = os.path.join(base, "corpus"), os.path.join(base, "out")
    os.makedirs(base)
    rc, _ = run.java("graft.perfbench.Main", ["--work", run.WORK, "--export-corpus", corpus], 900)
    if rc != 0:
        return 2
    rc, _ = run.java("graft.Verify", [corpus, out, ",".join(QUERIES)], 900)
    if rc != 0:
        return 2
    failed = compare(corpus, out)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(run.WORK, ignore_errors=True)
    return 1 if failed else 0


def rows(df):
    cols = sorted(df.columns)
    return cols, sorted(df[cols].values.tolist(), key=lambda r: tuple(map(str, r)))


def compare(corpus, out):
    import duckdb
    con = duckdb.connect()
    for t in ["customer", "orders", "lineitem", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed = 0
    for q in QUERIES:
        got = rows(con.execute(f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')").df())
        want = rows(con.execute(oracle[q]).df())
        ok = got == want
        failed += not ok
        print(f"{'PASS' if ok else 'FAIL'} {q} ({len(got[1])} rows, oracle {len(want[1])})")
    return failed


if __name__ == "__main__":
    sys.exit(main())
