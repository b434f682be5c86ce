"""Resumable distributed extraction job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/extract.py \
        --input  /data/documents.parquet \
        --outdir /data/out \
        [--resume] [--partitions 2048] [--cpus 32] [--url-buckets N]

Pipeline (SURVEY §3 lifecycle → north_rule operational contract):

  documents(url, warc_ts, html, text, lang)
    → anti-join already-extracted urls        (resume checkpoint)
    → salted repartition xxhash64(url, salt)  (host/mega-doc skew)
    → mapInPandas per-document extraction     (zero further shuffles)
    → commit to <outdir>/extracted            (the checkpoint itself)
    → side tables toc/ chunks/ validation/ doc_metrics/ lineage/
      derived from THIS batch only (the commit's incremental scan)
      and committed one by one (incremental: a resume run's
      side-table cost ∝ new docs, never corpus size)

Every table is a snapshot table (sinks/snapshots.py) and every commit
carries the run's `batch_id` in its summary; side rows also keep it as
a plain `batch` column. The extracted table IS the checkpoint: each
commit lands a consistent batch of whole documents, and `--resume`
anti-joins the current snapshot's url set so a restarted job only
processes the remainder — Iceberg snapshot-based restart, idempotent
per url.

Crash recovery is a set difference over the head manifests: a batch
id the extracted table holds that a side table lacks died between the
two commits, and the next run re-derives exactly those side tables
from that batch's incremental scan — never from the corpus.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.operators import extract as ox  # noqa: E402
from pdf_parser_spark.plans.session import get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402

SIDE_TABLES = {
    "toc": ox.toc_table,
    "chunks": ox.chunks_table,
    "validation": ox.validation_table,
    "doc_metrics": ox.metrics_table,
    "lineage": ox.lineage_metrics,
}


def _commit_side_tables(spark, out: Path, batch, batch_id: str, names) -> None:
    """Derive the named side tables from one extracted batch and commit
    each, tagged with the batch id (summary + `batch` column)."""
    tag = F.lit(batch_id).alias("batch")
    for name in names:
        sn.commit(
            spark, SIDE_TABLES[name](batch).select("*", tag), str(out / name),
            summary={"job": "extract", "batch_id": batch_id},
        )


def _heal_incomplete_batches(
    spark, out: Path, min_age_sec: float
) -> tuple[list[str], list[dict]]:
    """Commit the side tables a crashed run left out: for every batch id
    the extracted table holds, the side tables whose head manifest
    lacks it are re-derived from that batch's incremental scan.

    `min_age_sec` is the liveness grace (the remove_orphans hazard in
    reverse): a manifest younger than it may belong to a job still
    running on this outdir, and healing it would race that job's own
    side commits. A heal that FAILS (its batch files were removed) is
    reported, never allowed to brick every future run.

    Returns (healed_batch_ids, failures)."""
    extracted = str(out / "extracted")
    cutoff_ms = (time.time() - min_age_sec) * 1000
    live = sn.committed_batch_ids(extracted)
    have = {name: sn.committed_batch_ids(str(out / name)) for name in SIDE_TABLES}
    healed: list[str] = []
    failures: list[dict] = []
    for snap in sn.snapshots(extracted):
        batch_id = snap["summary"].get("batch_id")
        if batch_id not in live or not snap["batch_rows"]:
            continue  # no batch, rolled back out of the table, or empty
        missing = [name for name in SIDE_TABLES if batch_id not in have[name]]
        if not missing:
            continue
        if snap.get("timestamp_ms", 0) > cutoff_ms:
            continue  # commit from a possibly-live run
        try:
            batch = sn.read_incremental(spark, extracted, snap["snapshot_id"])
            _commit_side_tables(spark, out, batch, batch_id, missing)
            healed.append(batch_id)
        except Exception as e:  # isolate: one bad batch must not stop the job
            failures.append({"batch_id": batch_id, "error": str(e)[:300]})
    return healed, failures


def run(
    input_path: str,
    outdir: str,
    resume: bool = False,
    partitions: int | None = None,
    cpus: int | None = None,
    spark=None,
    url_buckets: int | None = None,
    heal_min_age_sec: float = 3600.0,
    input_format: str = "parquet",
) -> dict:
    """`url_buckets=N` partitions the extracted table by
    `url_bucket = pmod(xxhash64(url), N)` — Iceberg's `bucket(N, url)`
    partition spec: point lookups prune to one bucket directory, and
    downstream url-keyed joins co-locate."""
    from pdf_parser_spark.fsutil import ensure_local_path

    # the snapshot manifest log uses local-FS semantics; on a cluster
    # outdir is an Iceberg catalog with the same commit protocol
    ensure_local_path(outdir, "jobs/extract.py")
    spark = spark or get_spark(app_name="extract-job", cpus=cpus)
    out = Path(outdir)
    extracted_path = str(out / "extracted")
    # None means nothing extracted yet; a corrupt manifest or a
    # plain-parquet outdir raises here, before any work is done (a
    # fresh run hits the same plain-parquet check in its first commit)
    done_tbl = sn.read_or_none(spark, extracted_path) if resume else None

    # heal any batch whose previous run died between the extracted
    # commit and the side-table commits (see _heal_incomplete_batches)
    healed, heal_failures = _heal_incomplete_batches(spark, out, heal_min_age_sec)

    if input_format == "warc":
        # Common Crawl's native container: archives → documents rows
        # (html binary; text recovered by the DOM stripper inside the
        # extraction pass below)
        from pdf_parser_spark.sources.warc import warc_to_documents

        docs = warc_to_documents(spark, input_path)
    elif input_format == "parquet":
        docs = read_documents(spark, input_path)
    else:
        raise ValueError(f"unknown input_format {input_format!r} (parquet|warc)")
    n_input = docs.count()

    n_already = 0
    if done_tbl is not None:
        done = done_tbl.select("url").distinct()
        n_already = done.count()
        # broadcast when the processed set is small; Catalyst/AQE
        # picks SMJ automatically once it grows past the threshold
        docs = docs.join(done, on="url", how="left_anti")

    todo = ox.salted_repartition(docs, partitions)
    extracted = (
        ox.extract_documents_from_html(todo)
        if input_format == "warc"
        else ox.extract_documents(todo)
    )
    spec = None
    if url_buckets:
        extracted = extracted.withColumn(
            "url_bucket", F.pmod(F.xxhash64("url"), F.lit(url_buckets))
        )
        spec = ["url_bucket"]
    batch_id = uuid.uuid4().hex
    t0 = time.perf_counter()
    snap = sn.commit(
        spark, extracted, extracted_path,
        summary={"job": "extract", "resume": resume, "batch_id": batch_id},
        partition_by=spec,
    )
    wall = time.perf_counter() - t0

    # side tables derive from THIS batch only and APPEND — they are
    # row-wise per-url projections, so append composes, and a resume
    # run that adds 0.1% new docs touches 0.1% of the data instead of
    # rewriting corpus-sized tables. Reading the just-committed batch
    # back keeps every stage restartable without re-running the
    # extract UDF.
    n_new = snap["batch_rows"]
    status_counts: dict[str, int] = {}
    t_side0 = time.perf_counter()
    if n_new:
        new_batch = sn.read_incremental(spark, extracted_path, snap["snapshot_id"])
        _commit_side_tables(spark, out, new_batch, batch_id, SIDE_TABLES)
        status_counts = {
            r["status"]: r["n"]
            for r in new_batch.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
    side_sec = time.perf_counter() - t_side0

    summary = {
        "input_docs": n_input,
        "already_extracted": n_already,
        "newly_extracted": n_new,
        "total_extracted": snap["total_rows"],
        "wall_sec_extract": round(wall, 2),
        "wall_sec_side_tables": round(side_sec, 2),
        "docs_per_sec": round(n_new / wall, 2) if wall > 0 else None,
        "status_counts": status_counts,
        "side_table_rows_processed": n_new,
        "batch_id": batch_id,
        "snapshot_id": snap["snapshot_id"],
    }
    if healed:
        summary["healed_batches"] = healed
    if heal_failures:
        # surfaced, not fatal: a batch whose files were removed needs
        # operator attention but must not brick every future run
        summary["heal_failures"] = heal_failures
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--url-buckets", type=int, default=None)
    ap.add_argument(
        "--input-format", choices=("parquet", "warc"), default="parquet",
        help="warc: read Common Crawl-style .warc/.warc.gz archives "
        "(html recovered via the DOM stripper)",
    )
    ap.add_argument(
        "--heal-min-age", type=float, default=3600.0,
        help="seconds a commit must be stale before the heal pass "
        "claims its batch (guards against racing a live run)",
    )
    args = ap.parse_args()
    summary = run(
        args.input, args.outdir, args.resume, args.partitions, args.cpus,
        url_buckets=args.url_buckets, heal_min_age_sec=args.heal_min_age,
        input_format=args.input_format,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
