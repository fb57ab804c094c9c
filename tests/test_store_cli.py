"""Smoke tests of the store-maintenance CLIs against drained manifest
stores: tools/compact_dedup_store.py and tools/ann_rebalance.py each
print one JSON line per path, rewrite a store a registered drain
left behind without changing its rows, and answer a path holding no
committed version — a missing path or a regular file — with an error
line and go on to the next path."""

from __future__ import annotations

import glob
import json
import os
import tempfile

from kafka_spark_streaming_spark.operators import QUERIES
from kafka_spark_streaming_spark.operators.store_maintenance import (
    pinned_store_read,
)
from kafka_spark_streaming_spark.tables import table


def _drained_store(spark, sf_dir: str, query: str, prefix: str) -> str:
    pattern = os.path.join(tempfile.gettempdir(), f"{prefix}*")
    before = set(glob.glob(pattern))
    QUERIES[query](spark, sf_dir).collect()
    (run_dir,) = set(glob.glob(pattern)) - before
    return os.path.join(run_dir, "store")


def _dedup_rows(spark, store: str) -> list[tuple]:
    return sorted(
        tuple(r)
        for r in pinned_store_read(spark, store)
        .select("kind", "pk", "doc_id", "bh", "kept")
        .collect()
    )


def _json_lines(capsys) -> list[dict]:
    return [
        json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{")
    ]


def test_compact_cli_on_drained_store(spark, sf_smoke, tmp_path, capsys):
    from tools.compact_dedup_store import main

    store = _drained_store(
        spark, sf_smoke, "s_incremental_near_dedup", "kss_increddup_"
    )
    rows = _dedup_rows(spark, store)
    missing = str(tmp_path / "no_store")
    a_file = tmp_path / "a_file"
    a_file.write_text("not a store")
    capsys.readouterr()
    assert main([missing, str(a_file), store]) == 1
    err, file_err, done = _json_lines(capsys)
    assert done["store"] == store and done["rewrote"]
    assert done["files_after"] < done["files_before"]
    assert err == {"store": missing, "error": "no committed version"}
    assert file_err == {"store": str(a_file), "error": "no committed version"}
    assert _dedup_rows(spark, store) == rows


def test_ann_cli_on_drained_store(spark, sf_smoke, tmp_path, capsys):
    from tools.ann_rebalance import main as rebalance_main
    from tools.compact_dedup_store import main as compact_main

    store = _drained_store(
        spark, sf_smoke, "s_incremental_ann_ivf", "kss_sivf_"
    )
    n = table(spark, sf_smoke, "embeddings").count()
    missing = str(tmp_path / "no_store")
    a_file = tmp_path / "a_file"
    a_file.write_text("not a store")
    capsys.readouterr()
    assert rebalance_main(["--stats-only", store]) == 0
    assert rebalance_main([str(a_file), store, missing]) == 1
    assert compact_main(["--ann", store]) == 0
    stats, file_err, rebalanced, err, compacted = _json_lines(capsys)
    assert file_err == {"store": str(a_file), "error": "no committed version"}
    assert stats["stats"]["rows"] == n
    assert rebalanced["rebalance"]["rewrote"]
    assert rebalanced["rebalance"]["rows"] == n
    assert err == {"store": missing, "error": "no committed version"}
    assert compacted["store"] == store and not compacted["rewrote"], (
        "a rebalance leaves one file per cell: nothing to compact"
    )
    ids = [r.vec_id for r in pinned_store_read(spark, store).collect()]
    assert len(ids) == len(set(ids)) == n
    # the CLIs share the ambient session; it must still be usable
    assert spark.range(1).count() == 1
