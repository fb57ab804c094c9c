"""CLI for the streaming-IVF store's skew watch + rebalance pass.

Usage:
    python tools/ann_rebalance.py [--stats-only] [--force] /path/to/store [more...]

Prints one JSON line per store.  With --stats-only: the cell-
occupancy histogram (ann_store_stats — the drift signal), no writes.
Otherwise: the result of rebalance_ann_store (re-train the coarse
quantizer on the store's current contents, rewrite rows into their
new argmax cells, and commit rows and quantizer as one manifest
version — see kafka_spark_streaming_spark/operators/store_maintenance.py),
whose record carries skew/occupancy AND the per-cell histograms
before and after, so nothing is lost by skipping the separate stats
scan.  A path holding no committed version prints an error line.  The
single-writer contract is enforced exactly like compaction: the pass
refuses a store whose writer token names a live drain, and --force
overrides a token you know is stale.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str]) -> int:
    stats_only = "--stats-only" in argv
    force = "--force" in argv
    paths = [p for p in argv if p not in ("--stats-only", "--force")]
    if not paths:
        print(__doc__.strip())
        return 2
    from kafka_spark_streaming_spark import get_spark
    from kafka_spark_streaming_spark.fencing import StaleWriterError
    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        ann_store_stats,
        rebalance_ann_store,
    )

    spark = get_spark(app_name="kss-ann-rebalance")
    rc = 0
    for path in paths:
        doc: dict = {"store": path}
        if not ManifestStore(path)._versions():
            print(json.dumps({**doc, "error": "no committed version"}))
            rc = 1
            continue
        try:
            if stats_only:
                doc["stats"] = ann_store_stats(spark, path)
            else:
                # the rebalance result carries skew/occupancy before
                # and after — a separate stats call here would be a
                # redundant third full-store scan (code-review r20)
                doc["rebalance"] = rebalance_ann_store(
                    spark, path, force=force
                )
        except StaleWriterError as exc:
            doc["error"] = str(exc)
            rc = 1
        except Exception as exc:  # noqa: BLE001 — keep iterating stores
            doc["error"] = f"{type(exc).__name__}: {exc}"
            rc = 1
        print(json.dumps(doc))
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
