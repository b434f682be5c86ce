"""Small-file compaction job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/compact.py \
        --path /data/out/curated [--key url] [--target-mb 128]

Checkpoint-append jobs (extract/curate resume batches) accrete many
small parquet files; at cluster scale the scan's task count and
NameNode/manifest pressure grow with file count, not data size. This
job rewrites the CURRENT snapshot of a snapshot table
(sinks/snapshots.py) into ~target-sized files — Iceberg's
`rewrite_data_files`:

  read the current snapshot
    → repartitionByRange(n, key)   (range layout: min/max file stats
                                    become useful for later key-range
                                    pruning; plain repartition(n)
                                    when no key)
    → ONE overwrite commit         (same partition spec; published
                                    only if the new batch holds the
                                    snapshot's row count and no other
                                    writer committed meanwhile)

The table is never missing: readers see the old snapshot until the
overwrite manifest lands, and the old batches stay on disk for time
travel until expire_snapshots drops them. A row-count mismatch
publishes nothing, so the current state stays the pre-compaction rows.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.plans.session import get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402


def _data_files(path: str, batches: list[str]) -> list[Path]:
    return [f for b in batches for f in (Path(path) / b).rglob("*.parquet") if f.is_file()]


def run(path: str, key: str | None = None, target_mb: int = 128, spark=None) -> dict:
    # the size probe and the manifest log use the LOCAL filesystem; on
    # an object store use Iceberg's rewrite_data_files (RUNBOOK)
    from pdf_parser_spark.fsutil import ensure_local_path

    ensure_local_path(
        path, "jobs/compact.py", remedy="use Iceberg rewrite_data_files (docs/RUNBOOK.md)"
    )
    head = sn.current_snapshot(path)
    if head is None:
        raise ValueError(f"{path} has no snapshot log; compact rewrites snapshot tables only")
    spark = spark or get_spark(app_name="compact")
    t0 = time.perf_counter()
    files_before = _data_files(path, head["batches"])
    bytes_total = sum(f.stat().st_size for f in files_before)
    n_parts = max(1, math.ceil(bytes_total / (target_mb * 1024 * 1024)))

    df = sn.read(spark, path, head["snapshot_id"])
    out = df.repartitionByRange(n_parts, key) if key else df.repartition(n_parts)
    snap = sn.commit(
        spark, out, path, operation="overwrite",
        summary={"job": "compact", "rewrote_snapshot": head["snapshot_id"]},
        partition_by=head.get("partition_by"),
        expected_rows=head["total_rows"],
        parent_id=head["snapshot_id"],
    )
    return {
        "rows": snap["total_rows"],
        "files_before": len(files_before),
        "files_after": len(_data_files(path, snap["batches"])),
        "bytes": bytes_total,
        "target_partitions": n_parts,
        "snapshot_id": snap["snapshot_id"],
        "wall_sec": round(time.perf_counter() - t0, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--path", required=True)
    ap.add_argument("--key", default=None)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    spark = get_spark(app_name="compact", cpus=args.cpus)
    print(json.dumps(run(args.path, key=args.key, target_mb=args.target_mb, spark=spark)))


if __name__ == "__main__":
    main()
