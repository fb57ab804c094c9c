"""CLI for the incremental-store maintenance passes.

Usage:
    python tools/compact_dedup_store.py [--force] [--ann] /path/to/store [more...]

Once any leaf of a store's committed head holds two or more files,
rewrites the whole head to one file per leaf and commits the result
as a new manifest version (see
kafka_spark_streaming_spark/operators/store_maintenance.py): by
default the incremental-dedup layout (kind=*/pk=* leaves); with --ann
the streaming-IVF layout (cell=* leaves).  A path holding no
committed version prints an error line and is left untouched.  The
single-writer contract is ENFORCED (r18): the pass refuses a store
whose writer token (kept inside the store dir) names a live drain
(run between drains, or let the drain's compactEveryNBatches policy
knob compact in-line), and --force overrides a token you know is
stale.  Prints one JSON line per store.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(paths: list[str]) -> int:
    force = "--force" in paths
    ann = "--ann" in paths
    paths = [p for p in paths if p not in ("--force", "--ann")]
    if not paths:
        print(__doc__.strip())
        return 2
    from kafka_spark_streaming_spark import get_spark
    from kafka_spark_streaming_spark.fencing import StaleWriterError
    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_ann_store,
        compact_dedup_store,
    )

    compact = compact_ann_store if ann else compact_dedup_store
    spark = get_spark()
    rc = 0
    for p in paths:
        if not ManifestStore(p)._versions():
            print(json.dumps({"store": p, "error": "no committed version"}))
            rc = 1
            continue
        try:
            stats = compact(spark, p, force=force)
        except StaleWriterError as exc:
            print(json.dumps({"store": p, "error": str(exc)}))
            rc = 1
            continue
        print(json.dumps({"store": p, **stats}))
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
