#!/usr/bin/env python3
"""Measure streaming-dedup STATE under content skew (r14).

SCALE.md's claim for streaming/docs_dedup.py is that first-seen-per-
bucket is the skew-PROOF state shape: a bucket's state is one
(winner_id, winner_ts_us) entry no matter how many documents hash
into it, so — unlike the stream-stream join, where a 20%-share key
concentrates 20% of the corpus into one partition's store — a
20%-share BOILERPLATE document should leave the dedup state flat and
move the cost into (output-sized) dup-hit rows instead. This script
turns that claim into a measurement.

Two feeds over the same fixture scale:

* uniform — the documents fixture as-is (organic near-dup rate);
* hot     — 20% of documents' text replaced by doc 0's text
            (deterministic doc_id % 5 == 1 rule), the content
            analog of the 20%-share hot user in make_skew_probe.

For each: drain stream_minhash_dup_hits, then walk the checkpoint's
per-partition state directories (same method as stream_state_skew.py
— the max/median byte ratio is the spread; uniform over-counting
cancels). Expected law: bytes_ratio ~ 1 on BOTH feeds, total state
SMALLER on the hot feed (fewer distinct buckets), rows_out larger.

Usage:
    python scripts/stream_dedup_state.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_log_analysis_spark.scratch import ROOT as TMP  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out", default=os.path.join(TMP, "stream_dedup_state.json")
    )
    ap.add_argument("--provider", choices=["hdfs", "rocksdb"], default="hdfs",
                    help="state store provider (same flag semantics as "
                         "stream_state_skew.py; rocksdb is the provider "
                         "SCALE.md names for 100 TB state)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from hadoop_log_analysis_spark.session import get_spark
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        stream_minhash_dup_hits,
    )
    from hadoop_log_analysis_spark.streaming import events_stream
    from hadoop_log_analysis_spark.streaming.events_stream import (
        DOCS,
        Replay,
        ckpt_path,
        feed_stream,
        run_drain,
    )
    from scripts.stream_state_skew import state_profile

    spark = get_spark(app_name="hla-stream-dedup-state")
    spark.sparkContext.setLogLevel("ERROR")
    if args.provider == "rocksdb":
        # bound at stream start, survives catalog.scan's REQUIRED_CONFS
        # re-assertion (see stream_state_skew.py)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    # allow 600 s per drain, double the default
    events_stream.DRAIN_TIMEOUT_S = 600

    def hot_rows(spark, sf_dir):
        docs = DOCS.rows(spark, sf_dir)
        hot_text = (
            docs.filter(F.col("doc_id") == 0).select("text").collect()[0][0]
        )
        return docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 1, F.lit(hot_text)).otherwise(
                F.col("text")
            ),
        )

    feeds = {
        "uniform": DOCS,
        "hot": dataclasses.replace(DOCS, kind="docs_hot_drop", rows=hot_rows),
    }
    replay = Replay(8, 2)

    result = {}
    for fname, feed in feeds.items():
        table = f"dedup_state_{fname}"
        hits = stream_minhash_dup_hits(
            feed_stream(spark, args.sf_dir, feed, replay)
        )
        out = run_drain(hits, table, "append")
        n_hits = out.count()
        n_suppressed = out.select("doc_id").distinct().count()
        ckpt = ckpt_path(spark, table)
        prof = state_profile(ckpt)
        assert prof, f"no state under {ckpt}; ckpt convention desynced"
        rows = {}
        for op, pmap in prof.items():
            sizes = [pmap[p] for p in sorted(pmap)]
            med = statistics.median(sizes)
            rows[op] = {
                "n_partitions": len(sizes),
                "total_kb": round(sum(sizes) / 1e3, 1),
                "med_kb": round(med / 1e3, 1),
                "max_kb": round(max(sizes) / 1e3, 1),
                "bytes_ratio": round(max(sizes) / med, 2) if med else None,
            }
        result[fname] = {
            "hit_rows": n_hits,
            "suppressed_docs": n_suppressed,
            "state": rows,
            "provider": args.provider,
        }
        print(f"{fname}: hits={n_hits} suppressed={n_suppressed} "
              + json.dumps(rows), flush=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print("WROTE", args.out, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
