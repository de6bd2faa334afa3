#!/usr/bin/env python3
"""Measure stream-stream join STATE skew under hot join keys (r12).

The r12 skew tiers cross-checked the stream-stream joins' ANSWERS on
the hot-key and Zipf-head probes (parity 0-mismatch); this measures
the remaining scale question: how unevenly does the join's keyed
STATE land across state-store partitions when a user is hot?  A
stream-stream join keeps both sides' rows in per-partition state
stores until the watermark passes their eviction time; state is
hash-partitioned BY JOIN KEY, so — like the batch window class — no
engine mechanism splits a hot key's state across partitions.  The
bound is TEMPORAL, not spatial: the interval condition + watermark
evict rows, so a key's resident state is (its event rate) x (interval
+ watermark delay), NOT its history.

Method: run q_stream_stream_left_join's bounded drain against a probe
dir, then read the per-partition on-disk state directly from the
checkpoint the drain leaves behind (`<ckpt>/state/<opId>/<pid>/` —
delta + snapshot files; the LAST microbatch's files approximate the
final resident state, summed here per partition across all files,
which over-counts uniformly and therefore cancels in the max/median
ratio).  Reported per dir: state bytes max/median over partitions,
plus the totals.

Usage:
    python scripts/stream_state_skew.py [--dirs .tmp/sf1 .tmp/sf1_skew .tmp/sf1_zipf]

Results land in SCALE.md ("stream-stream state skew").
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, ".tmp")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def state_profile(ckpt: str) -> dict:
    """Per-partition state bytes for every stateful operator under a
    checkpoint; returns {opId: {pid: bytes}}."""
    out: dict[str, dict[int, int]] = {}
    for op_dir in sorted(glob.glob(os.path.join(ckpt, "state", "*"))):
        op = os.path.basename(op_dir)
        parts = {}
        for p_dir in glob.glob(os.path.join(op_dir, "*")):
            if os.path.basename(p_dir).isdigit():
                parts[int(os.path.basename(p_dir))] = dir_bytes(p_dir)
        if parts:
            out[op] = parts
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="*",
                    default=[os.path.join(TMP, "sf1"),
                             os.path.join(TMP, "sf1_skew"),
                             os.path.join(TMP, "sf1_zipf")])
    ap.add_argument("--out", default=os.path.join(TMP, "stream_state_skew.json"))
    ap.add_argument("--variants", nargs="*", default=["plain", "bucketed"],
                    help="which join variants to drain (plain bucketed); "
                         "width-curve runs pass --bucket-seconds and "
                         "--variants bucketed")
    ap.add_argument("--bucket-seconds", type=int, default=None,
                    help="bucket width W for the bucketed variants "
                         "(default: the registered T8_BUCKET_SECONDS)")
    ap.add_argument("--provider", choices=["hdfs", "rocksdb"], default="hdfs",
                    help="state store provider: hdfs = Spark's default "
                         "HDFSBackedStateStoreProvider (in-memory map + "
                         "delta files); rocksdb = RocksDBStateStoreProvider, "
                         "the provider SCALE.md names for 100 TB state. "
                         "The on-disk layout differs (zip snapshots + "
                         "changelogs vs deltas) but both keep one "
                         "directory per state PARTITION, so the same "
                         "per-partition byte walk measures the spread")
    args = ap.parse_args()

    from hadoop_log_analysis_spark.queries import load_registry, streaming_q
    from hadoop_log_analysis_spark.queries.streaming_q import (
        T8_LEFT_BKT_TABLE,
        T8_LEFT_TABLE,
    )
    from hadoop_log_analysis_spark.session import get_spark
    from hadoop_log_analysis_spark.streaming.events_stream import ckpt_path

    spark = get_spark(app_name="hla-stream-state-skew")
    spark.sparkContext.setLogLevel("ERROR")
    if args.provider == "rocksdb":
        # session-level conf is read at stream START, so setting it
        # here (after get_spark, before any drain) binds every drain
        # below; catalog.scan's REQUIRED_CONFS re-assertion does not
        # touch stateStore confs, so it survives scan() calls
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    app = spark.sparkContext.applicationId
    reg = load_registry()
    if args.bucket_seconds is not None:
        streaming_q.T8_BUCKET_SECONDS = args.bucket_seconds
    # plain join vs the r13 bucketed skew defense, side by side: the
    # defense's whole claim is the max/med drop at identical output
    variants = {
        "plain": ("q_stream_stream_left_join", T8_LEFT_TABLE),
        "bucketed": ("q_stream_stream_left_join_bucketed", T8_LEFT_BKT_TABLE),
        # the INNER pair shares the mechanism (no sentinels/merge);
        # not in the default set — request via --variants
        "plain_inner": ("q_stream_stream_join", "t8_stream_stream_join"),
        "bucketed_inner": (
            "q_stream_stream_join_bucketed", "t8_stream_stream_join_bkt"
        ),
    }
    unknown = set(args.variants) - set(variants)
    if unknown:
        print(f"unknown variants: {sorted(unknown)}", file=sys.stderr)
        return 2
    variants = {k: v for k, v in variants.items() if k in args.variants}

    result = {}
    for sf_dir in args.dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        result[label] = {}
        for vname, (qname, table) in variants.items():
            n = reg[qname].fn(spark, sf_dir).count()
            ckpt = ckpt_path(table, app)
            prof = state_profile(ckpt)
            # ADVICE r12: an empty profile means the ckpt convention
            # drifted — fail loudly, never record a hollow measurement
            assert prof, (
                f"no state found under {ckpt}; checkpoint naming "
                f"desynced from run_drain"
            )
            rows = {}
            for op, parts in prof.items():
                sizes = [parts[p] for p in sorted(parts)]
                med = statistics.median(sizes)
                rows[op] = {
                    "n_partitions": len(sizes),
                    "total_kb": round(sum(sizes) / 1e3, 1),
                    "med_kb": round(med / 1e3, 1),
                    "max_kb": round(max(sizes) / 1e3, 1),
                    "bytes_ratio": round(max(sizes) / med, 2) if med else None,
                }
            row = {"rows_out": n, "state": rows, "provider": args.provider}
            if vname.startswith("bucketed"):
                # self-describing artifact: which width produced this
                row["bucket_seconds"] = streaming_q.T8_BUCKET_SECONDS
            result[label][vname] = row
            print(f"{label}/{vname}: rows={n} " + json.dumps(rows), flush=True)
            # fresh checkpoint per dir: the drain keys the ckpt on the
            # app id, so clear it between dirs or the next drain no-ops
            import shutil
            shutil.rmtree(ckpt, ignore_errors=True)

    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print("WROTE", args.out, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
