"""The benchmark workloads: inputs, one closed-loop pass, output checks
and the traced per-layer breakdown.

Every workload drives the program only through its public functions
(`sources`, `operators`, `sinks`, `jobs`). A pass returns its wall time
split into named parts; `verify` returns (docs attempted, docs failed,
counters) for one checked pass; `layers` runs the extra legs of a traced
run; `replay` times the `core` stages in-process.
"""

from __future__ import annotations

import contextlib
import heapq
import random
import shutil
import statistics
import sys
import time
from collections import Counter
from pathlib import Path

from . import coretrace, inputs, sparkctl

CORPUS_DOCS = 4000
WARMUP_DOCS = 200
CHECK_SAMPLE = 16
# every REPLAY_STRIDE-th doc is replayed in-process; 13 is prime to the
# mega-doc period, so the sample keeps the corpus's 1-in-40 mega share
REPLAY_STRIDE = 13
SELFCHECK_STRIDE = 17
LEG_REPEATS = 3


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class _CorpusLeg:
    """Shared by extract_text and html_strip: the host-ordered corpus,
    the salted exchange and the scan/exchange/hand-off breakdown."""

    setups = 3
    trace_passes = 3
    columns: tuple[str, str]

    def prepare(self, cache: Path, seed: int) -> None:
        self.seed = seed
        self.partitions = sparkctl.slots() * 2
        self.path = inputs.host_ordered_corpus(cache, seed, CORPUS_DOCS)
        self.warm_path = inputs.host_ordered_corpus(cache, seed, WARMUP_DOCS)
        self.n_docs = CORPUS_DOCS

    def _docs(self, spark, path: str | None = None):
        from pdf_parser_spark.sources.corpus import read_documents

        return read_documents(spark, path or self.path)

    def _exchanged(self, spark, path: str | None = None):
        from pdf_parser_spark.operators.extract import salted_repartition

        return salted_repartition(self._docs(spark, path), self.partitions)

    def leg(self, spark, path: str | None = None):
        raise NotImplementedError

    def warmup(self, spark) -> None:
        sparkctl.force(self.leg(spark, self.warm_path))

    def run_pass(self, spark) -> dict[str, float]:
        return {"wall": _timed(lambda: sparkctl.force(self.leg(spark)))}

    def layers(self, spark) -> dict[str, float]:
        """Median wall of the scan, scan+exchange and
        scan+exchange+identity-mapInPandas legs, as differences."""
        cols = list(self.columns)
        schema = self._docs(spark).select(*cols).schema

        def ident(batches):
            yield from batches

        legs = {
            "scan": lambda: sparkctl.force(self._docs(spark).select(*cols)),
            "exchange": lambda: sparkctl.force(self._exchanged(spark).select(*cols)),
            "handoff": lambda: sparkctl.force(
                self._exchanged(spark).select(*cols).mapInPandas(ident, schema)
            ),
        }
        med = {
            name: statistics.median(_timed(fn) for _ in range(LEG_REPEATS))
            for name, fn in legs.items()
        }
        return {
            "sources.corpus.scan_s": med["scan"],
            "operators.extract.exchange_s": med["exchange"] - med["scan"],
            "arrow.handoff_s": med["handoff"] - med["exchange"],
        }

    def _replay_docs(self, column: str, stride: int) -> list[tuple[str, object]]:
        values = inputs.read_column(self.path, column)
        return sorted(
            ((u, v) for u, v in values.items() if inputs.doc_id(u) % stride == 3),
            key=lambda uv: inputs.doc_id(uv[0]),
        )

    def breakdown(self, leg_s: float, layers: dict) -> dict[str, float]:
        """Straggler and residual terms from per-partition busy time, and
        how closely the named parts add up to the traced pass. For the
        closure the partitions' busy times are scheduled in partition
        order onto the slots, as Spark hands out tasks, so imbalance
        between partitions counts once."""
        slots = sparkctl.slots()
        busy = [self.per_partition[p] for p in sorted(self.per_partition)] or [0.0]
        io = (
            layers["sources.corpus.scan_s"]
            + layers["operators.extract.exchange_s"]
            + layers["arrow.handoff_s"]
            + self.output_build / slots
        )
        return {
            "residual.straggler_s": max(busy) - statistics.mean(busy),
            "residual_s": leg_s - io - sum(busy) / slots,
            "trace.closure": (io + _makespan(busy, slots)) / leg_s,
        }


class ExtractText(_CorpusLeg):
    name = "extract_text"
    columns = ("url", "text")

    def leg(self, spark, path: str | None = None):
        from pdf_parser_spark.operators.extract import extract_documents

        return extract_documents(self._exchanged(spark, path))

    def verify(self, spark) -> tuple[int, int, dict]:
        """Every url exactly once; a seeded sample equal, field for
        field, to core.pipeline.extract_document run in this process."""
        from pyspark.sql import functions as F

        from pdf_parser_spark.core.pipeline import extract_document
        from pdf_parser_spark.operators.extract import EXTRACTED

        texts = inputs.read_column(self.path, "text")
        sample = random.Random(self.seed).sample(sorted(texts), CHECK_SAMPLE)
        fields = [f.name for f in EXTRACTED.fields if f.name not in ("url", "partition_id", "extract_secs")]
        full = F.when(F.col("url").isin(sample), F.struct(*fields))
        rows = (
            self.leg(spark)
            .select("url", "status", "partition_id", "extract_secs", full.alias("full"))
            .collect()
        )
        seen = Counter(r["url"] for r in rows)
        bad = {u for u in texts if seen[u] != 1} | {u for u in seen if u not in texts}
        by_url = {r["url"]: r for r in rows}
        for url in sample:
            row = by_url.get(url)
            if row is None or row["full"] is None:
                bad.add(url)
                continue
            want = _shape(extract_document(texts[url], doc_title=url), EXTRACTED)
            got = row["full"].asDict(recursive=True)
            if any(_norm(f, got[f]) != _norm(f, want[f]) for f in fields):
                print(f"extract_text: {url} differs from the in-process result", file=sys.stderr)
                bad.add(url)
        per_partition: dict[int, float] = {}
        for r in rows:
            per_partition[r["partition_id"]] = per_partition.get(r["partition_id"], 0.0) + r["extract_secs"]
        status = Counter(r["status"] for r in rows)
        secs = sorted(r["extract_secs"] for r in rows)
        counters = {f"output.status.{s}": status.get(s, 0) for s in ("ok", "no_toc", "empty", "error")}
        counters["core.doc_p50_ms"] = _quantile(secs, 0.50) * 1000
        counters["core.doc_p99_ms"] = _quantile(secs, 0.99) * 1000
        self.per_partition = per_partition
        return len(texts), len(bad), counters

    def replay(self) -> dict[str, float]:
        from pdf_parser_spark.operators.extract import EXTRACTED

        docs = self._replay_docs("text", REPLAY_STRIDE)
        with coretrace.StageSpans() as spans:
            secs, rows = coretrace.replay_extract(docs)
        # the replay covers every REPLAY_STRIDE-th doc: scale to the corpus
        self.output_build = coretrace.output_build_s(rows, EXTRACTED) * self.n_docs / len(docs)
        out = spans.metrics()
        out["core.pipeline.docs_per_s_1t"] = len(docs) / sum(secs)
        out["arrow.output_build_s"] = self.output_build
        out.update(coretrace.attribution_check(self._replay_docs("text", SELFCHECK_STRIDE)))
        return out


class HtmlStrip(_CorpusLeg):
    name = "html_strip"
    columns = ("url", "html")

    def leg(self, spark, path: str | None = None):
        from pdf_parser_spark.operators.html_extract import html_main_text

        return html_main_text(self._exchanged(spark, path))

    def verify(self, spark) -> tuple[int, int, dict]:
        """Every url exactly once, and extracted_text == text wherever
        the generator wrote a non-empty text (the synth oracle)."""
        from pyspark.sql import functions as F

        texts = inputs.read_column(self.path, "text")
        rows = self.leg(spark).withColumn("pid", F.spark_partition_id()).collect()
        seen = Counter(r["url"] for r in rows)
        bad = {u for u in texts if seen[u] != 1} | {u for u in seen if u not in texts}
        for r in rows:
            want = texts.get(r["url"])
            if want and r["extracted_text"] != want:
                bad.add(r["url"])
        self.partition_of = {r["url"]: r["pid"] for r in rows}
        counters = {
            "output.blocks": sum(r["n_blocks"] for r in rows),
            "output.content_blocks": sum(r["n_content_blocks"] for r in rows),
        }
        return len(texts), len(bad), counters

    def replay(self) -> dict[str, float]:
        """All docs in-process: per-doc times also give the partition
        busy time the html leg does not report itself."""
        from pdf_parser_spark.operators.html_extract import TEXT_SCHEMA

        docs = sorted(inputs.read_column(self.path, "html").items())
        with coretrace.StageSpans() as spans:
            secs, rows = coretrace.replay_html(docs)
        self.per_partition = {}
        for (url, _), s in zip(docs, secs):
            pid = self.partition_of[url]
            self.per_partition[pid] = self.per_partition.get(pid, 0.0) + s
        self.output_build = coretrace.output_build_s(rows, TEXT_SCHEMA)
        out = spans.metrics()
        out["core.html_extract.docs_per_s_1t"] = len(docs) / sum(secs)
        out["arrow.output_build_s"] = self.output_build
        return out


class CurateIncremental:
    """Batch 1 then batch 2 through jobs.curate.run(snapshots=True,
    history_dedup=True), near-dups on, into a fresh output directory.
    No host cap: with history dedup it is a known defect (see README)."""

    name = "curate_incremental"
    setups = 1
    trace_passes = 1
    FIRST_BATCH = 250
    WARMUP_FIRST_BATCH = 40
    COMMIT = [("pdf_parser_spark.sinks.snapshots", "commit", "sinks.snapshots.commit")]
    # set by a traced run: spans around every snapshot commit
    traced = False

    def prepare(self, cache: Path, seed: int) -> None:
        self.batches = inputs.curate_batches(cache, seed, self.FIRST_BATCH)
        self.warm = inputs.curate_batches(cache, seed, self.WARMUP_FIRST_BATCH)
        self.first = set(inputs.read_urls(self.batches["batch1"]))
        self.second = set(inputs.read_urls(self.batches["batch2"]))
        self.n_docs = len(self.first) + len(self.second)
        self.workdir = cache.parent / f"curate-out-{id(self)}"
        self.passes = 0
        sys.path.insert(0, str(Path.cwd() / "jobs"))

    def _curate(self, spark, path: str, outdir: Path) -> dict:
        import curate

        return curate.run(
            path, str(outdir), spark=spark, snapshots=True, history_dedup=True, near_dups=True
        )

    def warmup(self, spark) -> None:
        out = self.workdir / "warmup"
        shutil.rmtree(out, ignore_errors=True)
        self._curate(spark, self.warm["batch1"], out)
        shutil.rmtree(out, ignore_errors=True)

    def run_pass(self, spark) -> dict[str, float]:
        self.passes += 1
        out = self.workdir / f"pass{self.passes}"
        shutil.rmtree(out, ignore_errors=True)
        spans = coretrace.StageSpans(stages=self.COMMIT) if self.traced else None
        with spans or contextlib.nullcontext():
            t0 = time.perf_counter()
            self.m1 = self._curate(spark, self.batches["batch1"], out)
            t1 = time.perf_counter()
            self.m2 = self._curate(spark, self.batches["batch2"], out)
            t2 = time.perf_counter()
        self.commits = spans.metrics() if spans else {}
        self.last_out = out
        self.last_pass = {"wall": t2 - t0, "history_batch_s": t2 - t1}
        return self.last_pass

    def verify(self, spark) -> tuple[int, int, dict]:
        """On the last pass's output: curated ∪ quarantine equals the
        input and is disjoint, every url appears once, and every planted
        twin is quarantined under its history reason while its source
        stayed curated."""
        from pdf_parser_spark.sinks import snapshots as sn

        out = self.last_out
        curated = [r["url"] for r in sn.read(spark, str(out / "curated")).select("url").collect()]
        quarantined = {}
        dup_q = set()
        for r in sn.read(spark, str(out / "quarantine")).select("url", "reason").collect():
            if r["url"] in quarantined:
                dup_q.add(r["url"])
            quarantined[r["url"]] = r["reason"]
        everything = self.first | self.second
        cur = Counter(curated)
        bad = {u for u, n in cur.items() if n != 1} | dup_q
        bad |= set(cur) & set(quarantined)
        bad |= everything ^ (set(cur) | set(quarantined))
        for twin, info in self.batches["twins"].items():
            expected = f"{info['kind']}_dup_history"
            if quarantined.get(twin) != expected or info["source"] not in cur:
                bad.add(twin)
        counters = {
            f"jobs.curate.{k}": v for k, v in self.m2.items() if k.startswith("dropped_")
        }
        return self.n_docs, len(bad), counters

    def layers(self, spark) -> dict[str, float]:
        """Each funnel operator alone, forced on the batch-2 input (minus
        its scan), plus the fingerprint store the last pass left."""
        from pdf_parser_spark.operators import dedup as dd
        from pdf_parser_spark.operators import webtext_filters as wf
        from pdf_parser_spark.sinks import snapshots as sn
        from pdf_parser_spark.sources.corpus import read_documents

        new = read_documents(spark, self.batches["batch2"])
        both = new.unionByName(read_documents(spark, self.batches["batch1"]))
        store = str(self.last_out / "fingerprints")
        scan = _timed(lambda: sparkctl.force(new))
        sigs = dd.doc_signatures(new, text_col="text", key_col="url")
        signatures = _timed(lambda: sparkctl.force(sigs))
        pairs = dd.near_dup_pairs_minhash(both, text_col="text", key_col="url", threshold=0.8)
        t0 = time.perf_counter()
        n_pairs = pairs.count()
        minhash_pairs_s = time.perf_counter() - t0
        # the store as batch 1 committed it: what batch 2 was checked against
        history = sn.read(spark, store, snapshot_id=1).select("url", "fp", "signature")
        vs_history = dd.near_dups_vs_history(sigs, history, key_col="url", threshold=0.8)
        return {
            "operators.webtext_filters.quality_s": _timed(
                lambda: sparkctl.force(wf.line_dup_stats(wf.gopher_quality_flags(new)))
            ) - scan,
            "operators.webtext_filters.pii_redact_s": _timed(
                lambda: sparkctl.force(wf.pii_redact(new))
            ) - scan,
            "operators.dedup.exact_s": _timed(
                lambda: sparkctl.force(dd.dedup_exact(new, text_col="text", key_col="url"))
            ) - scan,
            "operators.dedup.minhash_pairs_s": minhash_pairs_s,
            "operators.dedup.minhash_pairs": n_pairs,
            "operators.dedup.signatures_s": signatures - scan,
            "operators.dedup.vs_history_s": _timed(lambda: vs_history.count()) - signatures,
            "store.rows": sn.read(spark, store).count(),
            "store.bytes": sum(f.stat().st_size for f in Path(store).rglob("*") if f.is_file()),
        }

    def breakdown(self, leg_s: float, layers: dict) -> dict[str, float]:
        """The history batch as the job reports it: its own stage_secs,
        and the outside wall time it does not account for."""
        out = {f"jobs.curate.stage.{k}_s": v for k, v in self.m2["stage_secs"].items()}
        out["jobs.curate.unreported_s"] = self.last_pass["history_batch_s"] - self.m2["wall_sec"]
        out["sinks.snapshots.commit_s"] = self.commits["sinks.snapshots.commit.self_s"]
        out["sinks.snapshots.commits"] = self.commits["sinks.snapshots.commit.calls"]
        return out

    def replay(self) -> dict[str, float]:
        return {}

    def cleanup(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)


def _makespan(durations: list[float], slots: int) -> float:
    """Finish time of `durations` run in order, each on the slot that
    frees up first."""
    free = [0.0] * slots
    for d in durations:
        heapq.heapreplace(free, free[0] + d)
    return max(free)


def _quantile(sorted_values: list[float], q: float) -> float:
    if not sorted_values:
        return 0.0
    return sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))]


def _shape(value, dtype):
    """An in-process value cut to the Spark schema it is written with."""
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return {f.name: _shape(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [_shape(v, dtype.elementType) for v in value]
    return value


def _norm(field: str, value):
    """Error tracebacks carry file paths that differ between the worker
    (zipped package) and this process: compare the exception line."""
    if field == "error" and value:
        return value.strip().splitlines()[-1]
    return value


WORKLOADS = {w.name: w for w in (ExtractText, HtmlStrip, CurateIncremental)}
