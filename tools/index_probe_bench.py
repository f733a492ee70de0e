"""Decade evidence for the incremental-dedup production claim:
per-delivery cost is O(batch + one hash-keyed index probe) -- the
indexed corpus is never re-tokenized / re-shingled. This measures a FIXED
batch probed against persisted indexes built from 10x and 100x corpora and
reports how probe time moves with index size (the honest number: the floor
is the index's narrow hash-column scan, ~32 bytes/window instead of
re-reading and re-tokenizing document text).

The scale_up fixtures replicate documents with IDENTICAL text (that is
their dedup-workload role), which keeps DISTINCT window-hash counts
constant -- useless for index-size scaling. This tool derives
distinct-content corpora instead: copy i of every sf0.1 document has each
token prefixed with c<i>_, so ALL window hashes are distinct per copy, the
index grows ~linearly in K, and the fixed batch (the original sf0.1
documents = copy 0) keeps a constant hit rate against every index size.

Usage:
    python tools/index_probe_bench.py [K ...]       # default: 10 100
Prints one JSON line (and a readable table on stderr) for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_index")


def derive_corpus(k: int) -> str:
    """K distinct-content copies of the sf0.1 documents (copy 0 = identity)."""
    dst = os.path.join(WORK, f"x{k}")
    os.makedirs(dst, exist_ok=True)
    out = os.path.join(dst, "documents.parquet")
    if not os.path.exists(out):
        con = duckdb.connect()

        def text_expr(i: int) -> str:
            if i == 0:
                return "text"
            return "regexp_replace(text, '(\\S+)', 'c%d_\\1', 'g')" % i

        copies = " UNION ALL ".join(
            f"""SELECT doc_id + {i} * (SELECT MAX(doc_id) + 1 FROM src) AS doc_id,
                       lang, source, n_chars, {text_expr(i)} AS text
                FROM src"""
            for i in range(k)
        )
        con.execute(f"CREATE VIEW src AS SELECT * FROM '{SRC}/documents.parquet'")
        con.execute(f"COPY ({copies}) TO '{out}' (FORMAT PARQUET)")
        con.close()
    return dst


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> int:
    ks = [int(a) for a in sys.argv[1:]] or [10, 100]
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.operators import dedup
    from aws_glue_cdc_metrics_job_spark.session import get_spark
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        read_table,
        write_bucketed,
    )

    spark = get_spark(app_name="index_probe_bench")
    batch = read_table(spark, SRC, "documents").select("doc_id", "text")
    n_batch = batch.count()
    results: dict[str, dict] = {}
    for k in ks:
        corpus_dir = derive_corpus(k)
        corpus = read_table(spark, corpus_dir, "documents").select("doc_id", "text")

        # --- exact substring (WHASH) index: bucketed on the window hash
        wt = f"ix_whash_x{k}"
        t_build_w = timed(
            lambda: write_bucketed(
                dedup.substring_hash_index(corpus),
                wt,
                ["WHASH"],
                32,
                sort_cols=["WHASH"],
                path=os.path.join(WORK, wt),
            )
        )
        ix_w = spark.table(wt)
        n_w = ix_w.count()
        # warm-up + two measured passes, min (steady-state per-delivery cost)
        noop(dedup.duplicated_spans_incremental(batch, ix_w))
        t_probe_w = min(
            timed(lambda: noop(dedup.duplicated_spans_incremental(batch, ix_w)))
            for _ in range(2)
        )

        # --- MinHash LSH index: bands bucketed on the band bucket key,
        # hash-sets bucketed on the doc id (the minhash_index docstring's
        # prescribed layout)
        bt, ht = f"ix_mh_bands_x{k}", f"ix_mh_hsets_x{k}"
        bands, hsets = dedup.minhash_index(corpus)

        def build_mh() -> None:
            write_bucketed(bands, bt, ["band", "bh"], 32,
                           sort_cols=["band", "bh"], path=os.path.join(WORK, bt))
            write_bucketed(hsets, ht, ["doc_id"], 32,
                           sort_cols=["doc_id"], path=os.path.join(WORK, ht))

        t_build_m = timed(build_mh)
        ib, ih = spark.table(bt), spark.table(ht)
        n_b = ib.count()
        noop(dedup.minhash_dedup_incremental(batch, ib, ih))
        t_probe_m = min(
            timed(lambda: noop(dedup.minhash_dedup_incremental(batch, ib, ih)))
            for _ in range(2)
        )
        results[f"x{k}"] = {
            "whash_index_rows": n_w,
            "whash_build_sec": t_build_w,
            "whash_probe_sec": t_probe_w,
            "minhash_band_rows": n_b,
            "minhash_build_sec": t_build_m,
            "minhash_probe_sec": t_probe_m,
        }
        print(f"# x{k}: whash {n_w} rows probe {t_probe_w}s; "
              f"minhash {n_b} band rows probe {t_probe_m}s", file=sys.stderr)
        for t in (wt, bt, ht):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(WORK, t), ignore_errors=True)

    out = {"batch_docs": n_batch, "src": SRC, "scales": results}
    if len(ks) == 2:
        a, b = (results[f"x{k}"] for k in ks)
        out["index_growth"] = round(b["whash_index_rows"] / a["whash_index_rows"], 2)
        out["whash_probe_ratio"] = round(b["whash_probe_sec"] / a["whash_probe_sec"], 2)
        out["minhash_probe_ratio"] = round(
            b["minhash_probe_sec"] / a["minhash_probe_sec"], 2
        )
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
