"""Seeded input generation for the benchmark.

The inputs are the repository's own test fixtures: ``fixtures/sf<sf>``
holds byte copies of the repository's fixture tables at scale factor
``sf`` (their digests are in ``fixtures/SHA256SUMS``). A run's input directory is
built from them in two steps, into ``perfbench/.work/data`` (git-ignored):

1. ``load(sf, factor)``: the fixture tables, or, for ``factor > 1``,
   their key-shifted replication by ``scripts/make_scale_probe.py``
   (imported, not copied);
2. a seeded row permutation of every table, written to a directory
   whose basename is unique to the seed. The streaming layer keys its
   drop-dir caches on that basename, so two seeds can never share a
   cache, and a row order is all the seed changes, so every answer is
   seed-independent.

The DuckDB oracle digests are computed on every run from the generated
directory and the registry's current oracle SQL.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
DATA = os.path.join(HERE, ".work", "data")
# Rows per parquet row group: DuckDB's COPY default, the layout
# scripts/make_scale_probe.py writes. Spark splits a scan by row group, so
# a table written as one big group would be read by one task.
ROW_GROUP_ROWS = 122_880


def fixture_dir(sf: float) -> str:
    path = os.path.join(FIXTURES, f"sf{sf}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no fixture tables for sf{sf} under {FIXTURES}")
    return path


def _scale_probe():
    spec = importlib.util.spec_from_file_location(
        "make_scale_probe", os.path.join(ROOT, "scripts", "make_scale_probe.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load(sf: float, factor: int) -> dict[str, pa.Table]:
    """The fixture tables at ``sf``, replicated ``factor`` times with
    make_scale_probe's key-shifted scheme when ``factor > 1``."""
    src = fixture_dir(sf)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src) if f.endswith(".parquet"))
    if factor == 1:
        return {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in names}
    import duckdb

    probe = _scale_probe()
    con = duckdb.connect()
    span_us, = con.execute(
        "SELECT epoch_us(max(ts)) - epoch_us(min(ts)) "
        f"FROM read_parquet('{src}/events.parquet')").fetchone()
    gap = int(span_us) + 25 * 3600 * 1_000_000
    tables = {}
    for table in names:
        f = f"{src}/{table}.parquet"
        if table in probe.COPIED:
            sql = f"SELECT * FROM read_parquet('{f}')"
        else:
            cols = [d[0] for d in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{f}')").fetchall()]
            sql = " UNION ALL ".join(
                probe.replica_select(table, cols, f, i, gap) for i in range(factor))
        tables[table] = con.execute(sql).arrow()
    con.close()
    return tables


def inputs(sf: float, factor: int, seed: int) -> str:
    """Write one run's input directory, ``pb_<tag>_s<seed>``: a seeded
    row permutation of ``load(sf, factor)``. Other seeds' copies go."""
    tag = f"sf{sf}" + (f"x{factor}" if factor > 1 else "")
    path = os.path.join(DATA, f"pb_{tag}_s{seed}")
    os.makedirs(DATA, exist_ok=True)
    for d in os.listdir(DATA):
        if d.startswith(f"pb_{tag}_s"):
            shutil.rmtree(os.path.join(DATA, d), ignore_errors=True)
    rng = np.random.default_rng(seed)
    tmp = path + ".partial"
    os.makedirs(tmp)
    for name, t in load(sf, factor).items():
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS)
    os.rename(tmp, path)
    return path


def digest(pdf) -> str:
    """Order-insensitive digest of a result: sorted column names plus
    ``oracle.canonical_rows``."""
    import hashlib
    import json

    from hadoop_log_analysis_spark.oracle import canonical_rows

    body = json.dumps([sorted(pdf.columns), canonical_rows(pdf)])
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB-oracle digests of ``names`` over ``sf_dir``. Queries
    without an oracle are left out."""
    from hadoop_log_analysis_spark.oracle import run_oracle
    from hadoop_log_analysis_spark.queries import load_registry

    registry = load_registry()
    return {n: digest(run_oracle(registry[n].oracle, sf_dir))
            for n in names if registry[n].oracle is not None}


def main() -> int:
    """Child-process entry: build one run's inputs and oracle digests
    and print them as JSON, so the driver's peak memory excludes them."""
    import argparse
    import json

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--factor", type=int, default=1)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args()
    t0 = time.perf_counter()
    sf_dir = inputs(a.sf, a.factor, a.seed)
    t1 = time.perf_counter()
    expected = oracle_digests(sf_dir, a.queries)
    print(json.dumps({"sf_dir": sf_dir, "expected": expected, "gen_s": t1 - t0,
                      "oracle_s": time.perf_counter() - t1}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
