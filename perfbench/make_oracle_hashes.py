#!/usr/bin/env python3
"""Regenerate ``oracle_hashes.json``: the expected result of each query
in the ``queries`` workload.

Usage, from the repository root::

    python3 perfbench/make_oracle_hashes.py [--sf-dir perfbench/data/sf0.1]

For each query this runs ``registry()[name].oracle`` on DuckDB and the
Spark builder on the same parquet tables, and compares the two results
exactly, order-insensitively, in ``scripts/parity.py``'s canonical
form. It records the DuckDB result's hash, whether
Spark agreed, and the Spark result's fingerprint as the benchmark
observes it. A query whose Spark result disagrees is recorded with
``oracle_agrees: false`` and then fails in every benchmark run.
Rows-only queries (no SQL oracle) record their row count alone; their
in-plan self-check raises if it fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness, queries  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canonical_hash(pdf) -> str:
    """sha256 of a result in ``scripts/parity.py``'s canonical form:
    columns sorted by name, every value as text, rows sorted."""
    from scripts.parity import canon

    return hashlib.sha256(canon(pdf).to_csv(index=False).encode()).hexdigest()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=str(queries.DATA_DIR))
    args = ap.parse_args(argv)
    root = Path.cwd()
    sf = Path(args.sf_dir).resolve()
    harness.prepare_env(root, harness.fresh_dir(root / ".perfbench" / "oracle"))

    import duckdb
    from pyspark.sql import Observation

    from polla_spark.plans import registry

    con = duckdb.connect()
    for t in TABLES:
        if (sf / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    reg = registry()
    spark, _, _ = harness.start_session("perfbench-oracle")
    out: dict[str, dict] = {}
    try:
        for name in queries.WORKLOAD_QUERIES:
            q = reg[name]
            df = q.spark(spark, str(sf))
            obs = Observation(f"fp_{name}")
            df.observe(obs, *queries.fingerprint_exprs(df)).write.format("noop") \
                .mode("overwrite").save()
            got = queries.fingerprint(obs.get)
            spark_pdf = df.toPandas()
            row = {"rows": got["rows"], "hash": got["hash"]}
            if q.oracle is None:
                row.update(rows_only=True, oracle_agrees=True)
            else:
                spark_sha = canonical_hash(spark_pdf)
                oracle_sha = canonical_hash(con.sql(q.oracle).df())
                row.update(oracle_sha256=oracle_sha, oracle_agrees=spark_sha == oracle_sha)
            out[name] = row
            spark.catalog.clearCache()
            print(f"{name}: {row}", file=sys.stderr)
    finally:
        harness.stop_session(spark)
    queries.ORACLE_FILE.write_text(json.dumps({
        "sf": 0.1,
        "command": "python3 perfbench/make_oracle_hashes.py --sf-dir <sf0.1 dir>",
        "queries": out,
    }, indent=1) + "\n", encoding="utf-8")
    bad = [n for n, r in out.items() if not r["oracle_agrees"]]
    print(f"{len(out) - len(bad)} agree, {len(bad)} disagree: {bad}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
