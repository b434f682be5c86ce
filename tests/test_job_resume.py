"""jobs/extract.py checkpoint/resume semantics (north_rule)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs.extract import SIDE_TABLES, run as run_job
from pdf_parser_spark.sinks import snapshots as sn
from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents


def _tbl(spark, out, name):
    return sn.read(spark, str(Path(out) / name))


def _crash_commits_to(monkeypatch, *names):
    """Simulate a crash: sn.commit raises for the named tables (every
    other commit goes through). Returns the real commit."""
    real = sn.commit

    def flaky(spark, df, table, *a, **k):
        if Path(table).name in names:
            raise RuntimeError(f"simulated crash before committing {table}")
        return real(spark, df, table, *a, **k)

    monkeypatch.setattr(sn, "commit", flaky)
    return real


def test_resume_skips_already_extracted(spark, tmp_path):
    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)

    first = run_job(corpus, out, resume=False, spark=spark)
    assert first["newly_extracted"] == 24
    assert first["total_extracted"] == 24
    # reference-faithful per-doc failure accounting reaches the summary
    assert sum(first["status_counts"].values()) == 24

    second = run_job(corpus, out, resume=True, spark=spark)
    assert second["already_extracted"] == 24
    assert second["newly_extracted"] == 0
    assert second["total_extracted"] == 24

    # side tables exist and line up with the extracted batch
    toc = _tbl(spark, out, "toc")
    lineage = _tbl(spark, out, "lineage")
    assert toc.count() > 0
    rolled = lineage.agg({"docs": "sum"}).collect()[0][0]
    assert rolled == 24


def test_resume_extracts_only_remainder(spark, tmp_path):
    corpus_half = str(tmp_path / "docs_half.parquet")
    corpus_full = str(tmp_path / "docs_full.parquet")
    out = str(tmp_path / "out2")
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(10), corpus_half)
    write_documents(full, corpus_full)

    run_job(corpus_half, out, resume=False, spark=spark)
    second = run_job(corpus_full, out, resume=True, spark=spark)
    assert second["already_extracted"] == 10
    assert second["newly_extracted"] == 10
    assert second["total_extracted"] == 20
    # idempotent per url: no duplicates after the resumed append
    ex = _tbl(spark, out, "extracted")
    assert ex.select("url").distinct().count() == 20
    assert ex.count() == 20


def test_bucketed_output_prunes_lookups(spark, tmp_path):
    """url_buckets=N → bucket(N, url) partition spec on the snapshot
    table: a point lookup's scan carries a PartitionFilters entry on
    url_bucket and reads one bucket directory per batch; resume still
    works over the partitioned table."""
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "outb")
    write_documents(synthetic_documents(spark, 20, seed=42), corpus)
    first = run_job(corpus, out, resume=False, spark=spark, url_buckets=8)
    assert first["newly_extracted"] == 20

    ex = _tbl(spark, out, "extracted")
    url = ex.select("url").first()["url"]
    bucket = ex.where(F.col("url") == url).select("url_bucket").first()["url_bucket"]
    lookup = ex.where(F.col("url_bucket") == bucket)
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "url_bucket" in plan.split("PartitionFilters", 1)[1][:200]

    second = run_job(corpus, out, resume=True, spark=spark, url_buckets=8)
    assert second["newly_extracted"] == 0 and second["total_extracted"] == 20
    log = sn.snapshots(str(Path(out) / "extracted"))
    assert [s["partition_by"] for s in log] == [["url_bucket"], ["url_bucket"]]
    # a batch with a different partition spec cannot join the table
    import pytest

    with pytest.raises(ValueError, match="partitioned by"):
        run_job(corpus, out, resume=True, spark=spark)


def test_curate_funnel_and_resume(spark, tmp_path):
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "cdocs.parquet")
    out = str(tmp_path / "curated_out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)

    first = run_curate(corpus, out, spark=spark, resume=False)
    assert first["input_docs"] == 24
    # funnel accounting is complete: every new doc is either dropped at
    # a named stage or curated
    assert (
        first["dropped_gopher"]
        + first["dropped_dup_lines"]
        + first["dropped_exact_dup"]
        + first["dropped_near_dup"]
        + first["newly_curated"]
    ) == first["new_docs"] == 24
    assert first["total_curated"] == first["newly_curated"] > 0

    second = run_curate(corpus, out, spark=spark, resume=True)
    assert second["already_curated"] == first["total_curated"]
    assert second["newly_curated"] == 0
    assert second["total_curated"] == first["total_curated"]

    curated = _tbl(spark, out, "curated")
    # curated rows keep the input_hint schema and PII-redacted text
    assert set(curated.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert curated.count() == first["total_curated"]


def test_curate_quarantine_accounts_every_drop(spark, tmp_path):
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "qdocs.parquet")
    out = str(tmp_path / "qcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    m = run_curate(corpus, out, spark=spark, resume=False)

    quarantined = _tbl(spark, out, "quarantine")
    by_reason = {r["reason"]: r["n"] for r in quarantined.groupBy("reason").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    assert by_reason.get("gopher", 0) == m["dropped_gopher"]
    assert by_reason.get("dup_lines", 0) == m["dropped_dup_lines"]
    assert by_reason.get("exact_dup", 0) == m["dropped_exact_dup"]
    assert by_reason.get("near_dup", 0) == m["dropped_near_dup"]
    # curated ∪ quarantined = every new input url, disjointly
    curated = _tbl(spark, out, "curated").select("url")
    q_urls = quarantined.select("url")
    assert curated.intersect(q_urls).count() == 0
    assert curated.union(q_urls).distinct().count() == 24


def test_curate_resume_does_not_reprocess_quarantine(spark, tmp_path):
    """A resumed run must anti-join BOTH prior outcomes: re-running the
    funnel on already-quarantined docs would re-append duplicate
    (url, reason) rows and break the disjoint accounting."""
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "rqdocs.parquet")
    out = str(tmp_path / "rqcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    first = run_curate(corpus, out, spark=spark, resume=False)
    q1 = _tbl(spark, out, "quarantine")
    n_q1 = q1.count()
    assert n_q1 > 0  # fixture must actually exercise the drop path

    second = run_curate(corpus, out, spark=spark, resume=True)
    assert second["new_docs"] == 0  # nothing left to adjudicate
    q2 = _tbl(spark, out, "quarantine")
    assert q2.count() == n_q1  # no duplicate re-appends
    assert q2.select("url", "reason").distinct().count() == n_q1
    # disjoint accounting still holds after the resume
    curated = _tbl(spark, out, "curated").select("url")
    assert curated.intersect(q2.select("url")).count() == 0
    assert curated.union(q2.select("url")).distinct().count() == 24
    assert second["total_curated"] == first["total_curated"]


def test_curate_single_materialization_per_stage(spark, tmp_path, monkeypatch):
    """The funnel's heavy lineage (Gopher/dup-line scan, exact-dedup
    groupBy) must be persisted so the job's many consumers (funnel agg,
    quarantine table, curated write, near-dup pass) execute each stage
    ONCE — at corpus scale, re-running the scan per action is the
    difference between one pass and ~6 over 100 TB."""
    # Spark 4: concrete frames are classic.dataframe.DataFrame, which
    # overrides persist — spy on the class the instances actually use
    from pyspark.sql.classic.dataframe import DataFrame

    from jobs.curate import run as run_curate

    persisted = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy)
    corpus = str(tmp_path / "opdocs.parquet")
    out = str(tmp_path / "opcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    m = run_curate(corpus, out, spark=spark, resume=False)
    # both heavy stages cached, and metrics still add up
    assert len(persisted) >= 2
    assert (
        m["dropped_gopher"] + m["dropped_dup_lines"] + m["dropped_exact_dup"]
        + m["dropped_near_dup"] + m["newly_curated"]
    ) == m["new_docs"] == 24


def test_compact_rejects_remote_uri(spark, tmp_path):
    from jobs.compact import run as run_compact

    import pytest

    with pytest.raises(ValueError, match="local filesystem"):
        run_compact("s3://bucket/table", spark=spark)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    from jobs.compact import run as run_compact

    path = str(tmp_path / "frag")
    docs = synthetic_documents(spark, 40, seed=42)
    # fragment: 10 append commits -> many small files
    for i in range(10):
        sn.commit(spark, docs.where(f"pmod(xxhash64(url), 10) = {i}"), path)
    before = sn.current_snapshot(path)

    m = run_compact(path, key="url", target_mb=64, spark=spark)
    assert m["rows"] == 40
    assert m["files_before"] >= 10
    assert m["files_after"] < m["files_before"]
    after = sn.read(spark, path)
    assert after.count() == 40
    assert after.select("url").distinct().count() == 40
    # one overwrite commit on top of the log; the old file set stays
    # addressable (time travel) until expire_snapshots
    head = sn.current_snapshot(path)
    assert head["operation"] == "overwrite" and head["parent_id"] == before["snapshot_id"]
    assert sn.read(spark, path, before["snapshot_id"]).count() == 40


def test_compact_row_count_mismatch_keeps_current_rows(spark, tmp_path, monkeypatch):
    """The row-count invariant runs before the overwrite manifest is
    published: a rewrite that loses rows commits nothing, and the
    table's current state is still the pre-compaction rows."""
    import pytest
    from pyspark.sql.classic.dataframe import DataFrame

    from jobs.compact import run as run_compact

    path = str(tmp_path / "lossy")
    docs = synthetic_documents(spark, 20, seed=42)
    for i in range(4):
        sn.commit(spark, docs.where(f"pmod(xxhash64(url), 4) = {i}"), path)
    head = sn.current_snapshot(path)
    want = sorted(r["url"] for r in sn.read(spark, path).select("url").collect())

    # a rewrite that silently drops rows (the bug the invariant exists for)
    real = DataFrame.repartitionByRange
    monkeypatch.setattr(
        DataFrame, "repartitionByRange",
        lambda self, *a, **k: real(self, *a, **k).limit(5),
    )
    with pytest.raises(RuntimeError, match="expected 20"):
        run_compact(path, key="url", spark=spark)
    monkeypatch.setattr(DataFrame, "repartitionByRange", real)

    assert sn.current_snapshot(path) == head
    got = sorted(r["url"] for r in sn.read(spark, path).select("url").collect())
    assert got == want
    # the rejected batch was removed, not left as an orphan
    live = {b for s in sn.snapshots(path) for b in s["batches"]}
    assert {f"data/{d.name}" for d in (Path(path) / "data").iterdir()} == live


def test_compact_refuses_table_without_snapshot_log(spark, tmp_path):
    import pytest

    from jobs.compact import run as run_compact

    path = str(tmp_path / "plain")
    synthetic_documents(spark, 4, seed=42).write.parquet(path)
    with pytest.raises(ValueError, match="no snapshot log"):
        run_compact(path, spark=spark)


def test_resume_side_tables_incremental(spark, tmp_path):
    """A resume run derives side tables from the NEW batch only and
    appends — totals unchanged, but the side-table write cost is ∝ new
    docs, not corpus size."""
    corpus_half = str(tmp_path / "ih.parquet")
    corpus_full = str(tmp_path / "if.parquet")
    out = str(tmp_path / "inc_out")
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(10), corpus_half)
    write_documents(full, corpus_full)

    first = run_job(corpus_half, out, resume=False, spark=spark)
    assert first["side_table_rows_processed"] == 10

    second = run_job(corpus_full, out, resume=True, spark=spark)
    # the side-table input is exactly the new batch
    assert second["side_table_rows_processed"] == 10
    assert second["total_extracted"] == 20
    validation_log = sn.snapshots(str(Path(out) / "validation"))
    assert [s["batch_rows"] for s in validation_log] == [10, 10]
    assert [s["summary"]["batch_id"] for s in validation_log] == [
        first["batch_id"], second["batch_id"]
    ]

    # appended side tables still cover the WHOLE corpus, disjointly
    validation = _tbl(spark, out, "validation")
    assert validation.count() == 20
    assert validation.select("url").distinct().count() == 20
    lineage = _tbl(spark, out, "lineage")
    assert lineage.agg({"docs": "sum"}).collect()[0][0] == 20
    toc = _tbl(spark, out, "toc")
    assert toc.select("url").distinct().count() > 10  # both batches present
    assert set(r["batch"] for r in toc.select("batch").distinct().collect()) == {
        first["batch_id"], second["batch_id"]
    }


def test_resume_corrupt_checkpoint_aborts(spark, tmp_path):
    """A corrupt checkpoint must ABORT the resume, not silently degrade
    into a full re-run that appends duplicate rows (r3 verdict #4)."""
    import pytest

    corpus = str(tmp_path / "cc.parquet")
    write_documents(synthetic_documents(spark, 8, seed=42), corpus)

    # truncated manifest
    out = str(tmp_path / "cc_out")
    run_job(corpus, out, resume=False, spark=spark)
    man = next((Path(out) / "extracted" / "_snapshots").glob("v*.json"))
    n_files = len(list(Path(out).rglob("*.parquet")))
    man.write_text(man.read_text()[: len(man.read_text()) // 2])
    with pytest.raises(Exception) as ei:
        run_job(corpus, out, resume=True, spark=spark)
    assert not isinstance(ei.value, FileNotFoundError)
    # table unchanged: nothing was re-extracted/appended
    assert len(list(Path(out).rglob("*.parquet"))) == n_files

    # unreadable data file behind an intact manifest
    out2 = str(tmp_path / "cc_out2")
    run_job(corpus, out2, resume=False, spark=spark)
    head = sn.current_snapshot(str(Path(out2) / "extracted"))
    for f in (Path(out2) / "extracted" / head["batches"][0]).glob("*.parquet"):
        f.write_bytes(b"not parquet")
    with pytest.raises(Exception):
        run_job(corpus, out2, resume=True, spark=spark)
    assert sn.current_snapshot(str(Path(out2) / "extracted")) == head


def test_resume_fresh_table_still_full_run(spark, tmp_path):
    """A table with no snapshot log means 'nothing extracted yet': a
    resume into a fresh outdir, or one whose table directory exists
    but holds no commit, is a full run."""
    corpus = str(tmp_path / "fr.parquet")
    write_documents(synthetic_documents(spark, 6, seed=42), corpus)
    m1 = run_job(corpus, str(tmp_path / "fr_out"), resume=True, spark=spark)
    assert m1["newly_extracted"] == 6 and m1["already_extracted"] == 0
    (tmp_path / "fr_out_s" / "extracted").mkdir(parents=True)
    m2 = run_job(corpus, str(tmp_path / "fr_out_s"), resume=True, spark=spark)
    assert m2["newly_extracted"] == 6 and m2["already_extracted"] == 0
    assert m2["snapshot_id"] == 1


def test_extract_rejects_remote_outdir(spark):
    import pytest

    with pytest.raises(ValueError, match="local filesystem"):
        run_job("/tmp/in.parquet", "s3://bucket/out", spark=spark)


def test_curate_snapshot_mode_resume(spark, tmp_path):
    """curated AND quarantine are snapshot tables — each run is one
    atomic commit per table, resume anti-joins the current snapshots,
    and a corrupt manifest aborts the resume."""
    import pytest

    from jobs.curate import run as run_curate

    corpus_half = str(tmp_path / "sh.parquet")
    corpus_full = str(tmp_path / "sf.parquet")
    out = str(tmp_path / "scur")
    full = synthetic_documents(spark, 24, seed=42)
    write_documents(full.limit(12), corpus_half)
    write_documents(full, corpus_full)

    # snapshots=True is still accepted; False has no layout to select
    with pytest.raises(ValueError, match="snapshot tables only"):
        run_curate(corpus_half, out, spark=spark, snapshots=False)

    first = run_curate(corpus_half, out, spark=spark, resume=False, snapshots=True)
    assert first["snapshot_id"] == 1
    assert first["new_docs"] == 12

    second = run_curate(corpus_full, out, spark=spark, resume=True)
    assert second["snapshot_id"] == 2
    assert second["new_docs"] == 12  # only the unseen half re-adjudicated
    assert second["already_curated"] == first["total_curated"]

    cur = sn.read(spark, str(Path(out) / "curated"))
    q = sn.read(spark, str(Path(out) / "quarantine"))
    assert cur.select("url").distinct().count() == cur.count() == second["total_curated"]
    assert q.select("url", "reason").distinct().count() == q.count()
    # disjoint, complete adjudication of all 24 urls
    assert cur.select("url").intersect(q.select("url")).count() == 0
    assert cur.select("url").union(q.select("url")).distinct().count() == 24
    # time travel: first run's curated batch is still addressable
    assert sn.read(spark, str(Path(out) / "curated"), snapshot_id=1).count() == first["newly_curated"]

    # corrupt manifest → resume aborts (no silent full re-run)
    man = sorted((Path(out) / "curated" / "_snapshots").glob("v*.json"))[-1]
    man.write_text(man.read_text()[:40])
    with pytest.raises(Exception) as ei:
        run_curate(corpus_full, out, spark=spark, resume=True)
    assert not isinstance(ei.value, FileNotFoundError)


def test_curate_rejects_remote_outdir(spark):
    import pytest

    from jobs.curate import run as run_curate

    with pytest.raises(ValueError, match="local filesystem"):
        run_curate("/tmp/in.parquet", "s3://bucket/out", spark=spark)


def _assert_side_tables_whole(spark, out, batch_id, n_docs):
    """Every side table holds the batch exactly once and covers every
    extracted doc."""
    for name in SIDE_TABLES:
        table = str(out / name)
        assert [s["summary"]["batch_id"] for s in sn.snapshots(table)] == [batch_id], name
        assert _tbl(spark, out, name).where(f"batch = '{batch_id}'").count() > 0, name
    val = _tbl(spark, out, "validation")
    assert val.count() == n_docs
    assert val.select("url").distinct().count() == n_docs
    assert _tbl(spark, out, "lineage").agg({"docs": "sum"}).collect()[0][0] == n_docs


def test_side_table_crash_heal(spark, tmp_path, monkeypatch):
    """A crash BETWEEN side-table commits must not lose the batch's
    remaining side rows, nor duplicate the ones already committed: the
    next run commits exactly the side tables whose log lacks the
    batch id."""
    import pytest

    corpus = str(tmp_path / "heal.parquet")
    out = Path(tmp_path / "heal_out")
    write_documents(synthetic_documents(spark, 16, seed=42), corpus)

    # toc and chunks commit, then the run dies before validation
    real = _crash_commits_to(monkeypatch, "validation", "doc_metrics", "lineage")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(corpus, str(out), resume=False, spark=spark)
    monkeypatch.setattr(sn, "commit", real)
    bid = sn.current_snapshot(str(out / "extracted"))["summary"]["batch_id"]
    assert not (out / "validation").exists()

    second = run_job(corpus, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert second["healed_batches"] == [bid]
    assert second["newly_extracted"] == 0
    _assert_side_tables_whole(spark, out, bid, 16)

    # healed batches are not healed again
    third = run_job(corpus, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert "healed_batches" not in third


def test_side_table_heal_snapshot_mode_without_marker(spark, tmp_path, monkeypatch):
    """A crash right after the extracted commit, before ANY side-table
    commit: the extracted log alone identifies the batch, and the next
    run derives all five side tables from its incremental scan."""
    import pytest

    corpus = str(tmp_path / "healsn.parquet")
    out = Path(tmp_path / "healsn_out")
    write_documents(synthetic_documents(spark, 12, seed=42), corpus)
    real = _crash_commits_to(monkeypatch, *SIDE_TABLES)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(corpus, str(out), resume=False, spark=spark)
    monkeypatch.setattr(sn, "commit", real)
    bid = sn.current_snapshot(str(out / "extracted"))["summary"]["batch_id"]

    second = run_job(corpus, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert second["healed_batches"] == [bid]
    _assert_side_tables_whole(spark, out, bid, 12)


def test_heal_grace_period_skips_fresh_markers(spark, tmp_path, monkeypatch):
    """A fresh manifest may belong to a LIVE concurrent run on the same
    outdir that has not reached its side commits yet — the default
    grace period must not heal it (the remove_orphans hazard in
    reverse)."""
    import pytest

    corpus = str(tmp_path / "grace.parquet")
    out = Path(tmp_path / "grace_out")
    write_documents(synthetic_documents(spark, 10, seed=42), corpus)
    real = _crash_commits_to(monkeypatch, *SIDE_TABLES)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(corpus, str(out), resume=False, spark=spark)
    monkeypatch.setattr(sn, "commit", real)

    # default heal_min_age_sec (1h): the fresh commit is left alone
    second = run_job(corpus, str(out), resume=True, spark=spark)
    assert "healed_batches" not in second
    assert not any((out / name).exists() for name in SIDE_TABLES)
    # once it is older than the grace period, it is healed
    third = run_job(corpus, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert len(third["healed_batches"]) == 1


def test_heal_failure_is_isolated_not_fatal(spark, tmp_path, monkeypatch):
    """A batch that needs healing but whose files are gone (compacted
    away, then removed) is surfaced in the summary, not allowed to
    brick the job."""
    import shutil

    import pytest

    from jobs.compact import run as run_compact

    corpus = str(tmp_path / "stale.parquet")
    out = Path(tmp_path / "stale_out")
    extracted = str(out / "extracted")
    write_documents(synthetic_documents(spark, 10, seed=42), corpus)
    real = _crash_commits_to(monkeypatch, *SIDE_TABLES)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(corpus, str(out), resume=False, spark=spark)
    monkeypatch.setattr(sn, "commit", real)
    dead = sn.current_snapshot(extracted)
    run_compact(extracted, key="url", spark=spark)
    for b in dead["new_batches"]:
        shutil.rmtree(out / "extracted" / b)

    second = run_job(corpus, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert second["newly_extracted"] == 0  # the job itself still ran
    assert second["already_extracted"] == 10
    assert second["heal_failures"][0]["batch_id"] == dead["summary"]["batch_id"]
    assert "healed_batches" not in second


def test_heal_after_compact_and_expire_adds_no_duplicates(spark, tmp_path):
    """Compaction and expire_snapshots drop a side table's older
    manifests. The head still names every batch it holds, so the heal
    pass must not commit those batches' side rows a second time."""
    from jobs.compact import run as run_compact

    corpus_half = str(tmp_path / "ce_half.parquet")
    corpus_full = str(tmp_path / "ce_full.parquet")
    out = tmp_path / "ce_out"
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(10), corpus_half)
    write_documents(full, corpus_full)
    first = run_job(corpus_half, str(out), resume=False, spark=spark)
    second = run_job(corpus_full, str(out), resume=True, spark=spark)
    n_toc = _tbl(spark, out, "toc").count()

    toc = str(out / "toc")
    run_compact(toc, key="url", spark=spark)
    assert sn.expire_snapshots(toc)["removed_snapshots"] == 1
    # lineage: expiry alone, no compaction
    assert sn.expire_snapshots(str(out / "lineage"), keep_last=1)["removed_snapshots"] == 1
    ids = {first["batch_id"], second["batch_id"]}
    assert sn.committed_batch_ids(toc) == ids
    assert sn.committed_batch_ids(str(out / "lineage")) == ids

    third = run_job(corpus_full, str(out), resume=True, spark=spark, heal_min_age_sec=0)
    assert "healed_batches" not in third and "heal_failures" not in third
    assert _tbl(spark, out, "toc").count() == n_toc
    assert _tbl(spark, out, "lineage").agg({"docs": "sum"}).collect()[0][0] == 20


def test_resume_refuses_plain_parquet_outdir(spark, tmp_path):
    """An outdir in the older plain-parquet layout (parquet files, no
    `_snapshots/` log) must not read as an empty table: a resume would
    re-extract everything into a directory that still holds the old
    files."""
    import pytest

    corpus = str(tmp_path / "legacy.parquet")
    out = tmp_path / "legacy_out"
    docs = synthetic_documents(spark, 4, seed=42)
    write_documents(docs, corpus)
    docs.write.parquet(str(out / "extracted"))
    for resume in (True, False):
        with pytest.raises(ValueError, match="no snapshot log"):
            run_job(corpus, str(out), resume=resume, spark=spark)
    assert sorted(p.name for p in (out / "extracted").iterdir() if p.is_dir()) == []


def test_curate_crash_between_quarantine_and_curated_converges(spark, tmp_path, monkeypatch):
    """curate's commits (quarantine, then curated) are crash-safe by
    construction: resume skips urls present in EITHER table, so a run
    that died after the quarantine commit re-adjudicates only the
    uncommitted survivors — and they survive again (their dedup losers
    are already quarantined and stay out of the funnel). Pin that
    convergence."""
    import pytest

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "ccr.parquet")
    out = Path(tmp_path / "ccr_out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    # reference run: what a crash-free curate produces
    ref = run_curate(corpus, str(tmp_path / "ccr_ref"), spark=spark, resume=False)

    real = _crash_commits_to(monkeypatch, "curated")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_curate(corpus, str(out), spark=spark, resume=False)
    monkeypatch.setattr(sn, "commit", real)
    n_q = _tbl(spark, out, "quarantine").count()
    assert n_q > 0
    assert sn.current_snapshot(str(out / "curated")) is None

    second = run_curate(corpus, str(out), spark=spark, resume=True)
    # only the lost survivors re-entered the funnel
    assert second["new_docs"] == ref["newly_curated"]
    assert second["newly_curated"] == ref["newly_curated"]
    assert second["total_curated"] == ref["total_curated"]

    cur = _tbl(spark, out, "curated").select("url")
    q = _tbl(spark, out, "quarantine")
    assert q.count() == n_q  # no duplicate quarantine rows
    assert cur.count() == ref["total_curated"]
    assert cur.intersect(q.select("url")).count() == 0
    assert cur.union(q.select("url")).distinct().count() == 24


def test_curate_transitive_near_dups_drops_whole_cluster(spark, tmp_path):
    """Star cluster a~c, b~c (a!~b): the pairwise default drops only c
    (both a and b survive even though they share near-dup c); the
    --transitive-near-dups closure keeps exactly one canonical doc —
    the min url a — and quarantines b and c as near_dup."""
    import datetime

    from jobs.curate import run as run_curate
    from pdf_parser_spark.sources.corpus import DOCUMENTS_SCHEMA

    base = [f"token{i:03d}" for i in range(1, 61)]  # 60 words, 58 shingles
    doc_c = " ".join(base)
    doc_a = " ".join(["alpha001", "alpha002", "alpha003"] + base[3:])
    doc_b = " ".join(base[:-3] + ["omega001", "omega002", "omega003"])
    # J(a,c)=J(b,c)=55/61≈0.90 >= 0.85; J(a,b)=52/64≈0.81 < 0.85
    fillers = [
        " ".join(f"fill{k}x{i:03d}" for i in range(1, 61)) for k in ("p", "q")
    ]
    ts = datetime.datetime(2025, 5, 1)
    rows = [
        ("http://a.example/x", ts, None, doc_a, "en"),
        ("http://b.example/x", ts, None, doc_b, "en"),
        ("http://c.example/x", ts, None, doc_c, "en"),
        ("http://d.example/x", ts, None, fillers[0], "en"),
        ("http://e.example/x", ts, None, fillers[1], "en"),
    ]
    corpus = str(tmp_path / "star.parquet")
    write_documents(spark.createDataFrame(rows, DOCUMENTS_SCHEMA), corpus)

    pw = run_curate(
        corpus, str(tmp_path / "out_pw"), spark=spark,
        near_dup_threshold=0.85,
    )
    assert pw["near_dup_mode"] == "pairwise"
    assert pw["dropped_near_dup"] == 1  # only c, the shared id_b
    kept_pw = {
        r["url"]
        for r in _tbl(spark, tmp_path / "out_pw", "curated").collect()
    }
    assert kept_pw == {
        "http://a.example/x", "http://b.example/x",
        "http://d.example/x", "http://e.example/x",
    }

    tr = run_curate(
        corpus, str(tmp_path / "out_tr"), spark=spark,
        near_dup_threshold=0.85, transitive_near_dups=True,
    )
    assert tr["near_dup_mode"] == "transitive"
    assert tr["dropped_near_dup"] == 2  # b and c: whole cluster minus canonical a
    kept_tr = {
        r["url"]
        for r in _tbl(spark, tmp_path / "out_tr", "curated").collect()
    }
    assert kept_tr == {
        "http://a.example/x", "http://d.example/x", "http://e.example/x",
    }
    q = _tbl(spark, tmp_path / "out_tr", "quarantine")
    near = {r["url"] for r in q.where(q.reason == "near_dup").collect()}
    assert near == {"http://b.example/x", "http://c.example/x"}


def test_curate_history_dedup_across_batches(spark, tmp_path):
    """--history-dedup (r5): a second batch's documents that exactly or
    nearly duplicate PREVIOUSLY curated ones are dropped via the
    fingerprints signature store — without re-reading historical text
    — and land in quarantine under their own reasons."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    out = str(tmp_path / "hout")
    batch1 = str(tmp_path / "b1.parquet")
    docs1 = synthetic_documents(spark, 16, seed=7)
    write_documents(docs1, batch1)
    first = run_curate(
        batch1, out, spark=spark, resume=False, near_dups=False, history_dedup=True
    )
    assert first["newly_curated"] > 2
    store = _tbl(spark, out, "fingerprints")
    assert store.count() == first["newly_curated"]
    assert set(store.columns) == {"url", "fp", "signature"}

    # batch 2: an exact twin and a near twin of two CURATED batch-1
    # docs (new urls), plus genuinely new docs
    curated = _tbl(spark, out, "curated")
    two = curated.orderBy("url").limit(2).collect()
    exact_twin = spark.createDataFrame(
        [("twin-exact", two[0]["warc_ts"], two[0]["html"], two[0]["text"], two[0]["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    near_twin = spark.createDataFrame(
        [
            (
                "twin-near",
                two[1]["warc_ts"],
                two[1]["html"],
                two[1]["text"] + " appended trailing sentence.",
                two[1]["lang"],
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    fresh = synthetic_documents(spark, 30, seed=99).where(
        F.length("text") >= 600
    ).limit(4)
    batch2 = str(tmp_path / "b2.parquet")
    exact_twin.unionByName(near_twin).unionByName(
        fresh.select("url", "warc_ts", "html", "text", "lang")
    ).write.parquet(batch2)

    second = run_curate(
        batch2, out, spark=spark, resume=True, near_dups=False, history_dedup=True
    )
    assert second["dropped_exact_dup_history"] >= 1
    assert second["dropped_near_dup_history"] >= 1
    q = _tbl(spark, out, "quarantine")
    reasons = {r["url"]: r["reason"] for r in q.collect()}
    assert reasons.get("twin-exact") == "exact_dup_history"
    assert reasons.get("twin-near") == "near_dup_history"
    # the store grew by exactly the batch's final survivors
    store2 = _tbl(spark, out, "fingerprints")
    assert store2.count() == first["newly_curated"] + second["newly_curated"]
    # twins never reached the curated table
    cur2 = _tbl(spark, out, "curated")
    assert cur2.where(F.col("url").isin("twin-exact", "twin-near")).count() == 0


def test_curate_history_store_bootstrap_and_heal(spark, tmp_path):
    """Turning --history-dedup on mid-life (or losing the store to a
    crash) must self-repair from the curated table: the store is
    rebuilt and cross-batch twins are still caught."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    out = str(tmp_path / "hout2")
    batch1 = str(tmp_path / "hb1.parquet")
    write_documents(synthetic_documents(spark, 12, seed=3), batch1)
    # first run WITHOUT history dedup: no store is written
    first = run_curate(batch1, out, spark=spark, resume=False, near_dups=False)
    assert not (Path(out) / "fingerprints").exists()

    curated = _tbl(spark, out, "curated")
    src = curated.orderBy("url").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("boot-twin", src["warc_ts"], src["html"], src["text"], src["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    batch2 = str(tmp_path / "hb2.parquet")
    twin.write.parquet(batch2)

    second = run_curate(
        batch2, out, spark=spark, resume=True, near_dups=False, history_dedup=True
    )
    # store bootstrapped from the curated table (marker -1), twin caught
    assert second["store_healed_docs"] == -1
    assert second["dropped_exact_dup_history"] == 1
    store = _tbl(spark, out, "fingerprints")
    assert store.count() == first["newly_curated"]  # twin itself was dropped
    assert (
        _tbl(spark, out, "curated")
        .where(F.col("url") == "boot-twin")
        .count()
        == 0
    )


def test_curate_drop_noindex_quarantines_optouts(spark, tmp_path):
    """--drop-noindex honors meta-robots opt-outs inside the single
    raw-docs pass: flagged pages are quarantined with their own
    reason, the funnel accounting stays complete and disjoint, and
    the default (off) leaves the numbers untouched."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "ndocs.parquet")
    docs = synthetic_documents(spark, 24, seed=42)
    # plant the directive into every 4th doc's html (position in the
    # byte stream is irrelevant to the columnar gate)
    planted = docs.withColumn(
        "html",
        F.when(
            F.crc32("url") % 4 == 0,
            F.concat(
                F.lit(b'<meta content="noindex" name="robots">'), F.col("html")
            ),
        ).otherwise(F.col("html")),
    )
    planted.write.mode("overwrite").parquet(corpus)
    n_planted = planted.where(F.crc32("url") % 4 == 0).count()
    assert n_planted > 0

    out = str(tmp_path / "nout")
    r = run_curate(corpus, out, spark=spark, resume=False, drop_noindex=True)
    assert r["dropped_robots_noindex"] == n_planted
    assert (
        r["dropped_robots_noindex"]
        + r["dropped_gopher"]
        + r["dropped_dup_lines"]
        + r["dropped_exact_dup"]
        + r["dropped_near_dup"]
        + r["newly_curated"]
    ) == r["new_docs"] == 24
    q = _tbl(spark, out, "quarantine")
    assert q.where(F.col("reason") == "robots_noindex").count() == n_planted
    curated = _tbl(spark, out, "curated")
    assert curated.join(
        q.where(F.col("reason") == "robots_noindex"), "url", "left_semi"
    ).count() == 0

    # default path ignores the directive entirely
    out2 = str(tmp_path / "nout_off")
    r2 = run_curate(corpus, out2, spark=spark, resume=False)
    assert r2["dropped_robots_noindex"] == 0
    assert r2["newly_curated"] >= r["newly_curated"]


def test_curate_host_cap_stage(spark, tmp_path):
    """--host-cap keeps at most N survivors per host, quarantines the
    rest under their own reason, and the funnel accounting identity
    still closes with the new stage in it."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate
    from pdf_parser_spark.operators.mixing import host_of

    corpus = str(tmp_path / "hdocs.parquet")
    write_documents(synthetic_documents(spark, 48, seed=42), corpus)
    out = str(tmp_path / "hout")

    r = run_curate(corpus, out, spark=spark, resume=False, host_cap=3)
    assert r["host_cap"] == 3
    assert (
        r["dropped_robots_noindex"]
        + r["dropped_gopher"]
        + r["dropped_dup_lines"]
        + r["dropped_exact_dup"]
        + r["dropped_near_dup"]
        + r["dropped_host_cap"]
        + r["newly_curated"]
    ) == r["new_docs"] == 48
    curated = _tbl(spark, out, "curated")
    per_host = curated.groupBy(host_of(F.col("url")).alias("h")).count()
    assert per_host.agg(F.max("count")).first()[0] <= 3
    assert curated.count() == r["newly_curated"]
    q = _tbl(spark, out, "quarantine")
    assert q.where("reason = 'host_cap'").count() == r["dropped_host_cap"]
    assert r["dropped_host_cap"] > 0  # the skewed-host corpus exceeds 3/host
    # resume with the same cap: nothing re-enters
    r2 = run_curate(corpus, out, spark=spark, resume=True, host_cap=3)
    assert r2["newly_curated"] == 0 and r2["dropped_host_cap"] == 0


def test_curate_all_stages_compose(spark, tmp_path):
    """Every funnel stage enabled at once — robots opt-out, quality,
    PII, exact dedup, transitive near-dup closure, host cap, history
    dedup — in one run plus a resume: the accounting identity closes
    with every stage's counter in it, quarantine reasons partition
    the dropped set, and the fingerprint store tracks exactly the
    curated survivors."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "alldocs.parquet")
    docs = synthetic_documents(spark, 40, seed=42).withColumn(
        "html",
        F.when(
            F.crc32("url") % 5 == 0,
            F.concat(F.lit(b'<meta name="robots" content="noindex">'), F.col("html")),
        ).otherwise(F.col("html")),
    )
    docs.write.mode("overwrite").parquet(corpus)
    out = str(tmp_path / "allout")

    kw = dict(
        drop_noindex=True,
        transitive_near_dups=True,
        host_cap=4,
        history_dedup=True,
    )
    r = run_curate(corpus, out, spark=spark, resume=False, **kw)
    drops = [
        "dropped_robots_noindex", "dropped_gopher", "dropped_dup_lines",
        "dropped_exact_dup", "dropped_near_dup", "dropped_host_cap",
        "dropped_exact_dup_history", "dropped_near_dup_history",
    ]
    assert sum(r[k] for k in drops) + r["newly_curated"] == r["new_docs"] == 40
    assert r["dropped_robots_noindex"] > 0 and r["dropped_host_cap"] > 0

    curated = _tbl(spark, out, "curated")
    q = _tbl(spark, out, "quarantine")
    # curated/quarantined url sets are disjoint and exhaustive over new docs
    assert curated.join(q, "url", "left_semi").count() == 0
    assert curated.count() + q.select("url").distinct().count() == 40
    # the store holds exactly the curated survivors
    store = _tbl(spark, out, "fingerprints")
    assert store.count() == curated.count()
    assert store.join(curated, "url", "left_anti").count() == 0

    r2 = run_curate(corpus, out, spark=spark, resume=True, **kw)
    assert r2["new_docs"] == 0 and r2["newly_curated"] == 0
