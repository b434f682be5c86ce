"""In-process spans around the per-document `core` stages.

The Spark legs run `core` inside Python workers, out of reach of this
process. The traced run therefore replays the same per-document calls
here, on one thread, with each stage function replaced on its module by
a timing wrapper. `core.pipeline` and `core.html_extract` look these
functions up on their modules at call time, so the wrappers see every
call. A stage's self time is its span minus the spans of wrapped stages
it calls (`segment_blocks` calls `decode_html`).
"""

from __future__ import annotations

import importlib
import time

_CORE = "pdf_parser_spark.core."

# (module, function, metric prefix)
PIPELINE_STAGES = [
    (_CORE + "pages", "split_pages", "core.split_pages"),
    (_CORE + "pages", "autodetect_toc_range", "core.autodetect_toc_range"),
    (_CORE + "toc", "parse_toc_lines", "core.parse_toc_lines"),
    (_CORE + "matching", "load_toc_records", "core.load_toc_records"),
    (_CORE + "chunking", "build_chunks_from_toc", "core.build_chunks_from_toc"),
    (_CORE + "chunking", "build_chunks_from_headings", "core.build_chunks_from_headings"),
    (_CORE + "chunking", "to_export_record", "core.to_export_record"),
    (_CORE + "matching", "validation_report", "core.validation_report"),
    (_CORE + "doc_metrics", "compute_metrics", "core.compute_metrics"),
]
HTML_STAGES = [
    (_CORE + "html_extract", "decode_html", "core.html_extract.decode_html"),
    (_CORE + "html_extract", "segment_blocks", "core.html_extract.segment_blocks"),
    (_CORE + "html_extract", "classify_block", "core.html_extract.classify_block"),
]
STAGES = PIPELINE_STAGES + HTML_STAGES

# the attribution self-check delays this stage
PLANTED_STAGE = "core.build_chunks_from_toc"
PLANTED_DELAY = 0.20


class StageSpans:
    """Context manager that wraps every function in `stages` (default
    STAGES) on its module while active and accumulates self time and
    call counts. `delays` maps a stage prefix to a share of each call's
    own duration that is added inside its span by spinning."""

    def __init__(self, delays: dict[str, float] | None = None, stages=STAGES) -> None:
        self.delays = delays or {}
        self.stages = stages
        self.self_s = {prefix: 0.0 for _, _, prefix in stages}
        self.calls = {prefix: 0 for _, _, prefix in stages}
        self.injected_s = 0.0
        self._children: list[float] = []
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, prefix: str, fn):
        delay = self.delays.get(prefix, 0.0)
        perf = time.perf_counter

        def span(*args, **kwargs):
            self._children.append(0.0)
            t0 = perf()
            try:
                return fn(*args, **kwargs)
            finally:
                if delay:
                    own = perf() - t0
                    until = t0 + own * (1 + delay)
                    while perf() < until:
                        pass
                    self.injected_s += own * delay
                total = perf() - t0
                children = self._children.pop()
                self.self_s[prefix] += total - children
                self.calls[prefix] += 1
                if self._children:
                    self._children[-1] += total

        return span

    def __enter__(self) -> "StageSpans":
        for module_name, fn_name, prefix in self.stages:
            module = importlib.import_module(module_name)
            original = getattr(module, fn_name)
            self._saved.append((module, fn_name, original))
            setattr(module, fn_name, self._wrap(prefix, original))
        return self

    def __exit__(self, *exc) -> None:
        for module, fn_name, original in reversed(self._saved):
            setattr(module, fn_name, original)
        self._saved.clear()

    def metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for _, _, prefix in self.stages:
            out[f"{prefix}.self_s"] = self.self_s[prefix]
            out[f"{prefix}.calls"] = self.calls[prefix]
        return out


def replay_extract(docs: list[tuple[str, str]]) -> tuple[list[float], list[dict]]:
    """core.pipeline.extract_document per (url, text), as
    operators.extract.extract_documents calls it. Returns per-doc
    seconds and the output rows in the operator's shape."""
    from pdf_parser_spark.core import pipeline

    secs, rows = [], []
    for url, text in docs:
        t0 = time.perf_counter()
        r = pipeline.extract_document(text, doc_title=url)
        secs.append(time.perf_counter() - t0)
        rows.append(
            {k: r[k] for k in ("status", "error", "n_pages", "toc_start", "toc_end",
                               "toc", "chunks", "validation", "metrics")}
            | {"url": url, "partition_id": 0, "extract_secs": secs[-1]}
        )
    return secs, rows


def replay_html(docs: list[tuple[str, bytes]]) -> tuple[list[float], list[dict]]:
    """The per-row body of operators.html_extract.html_main_text:
    segment → classify → join, through the core module's attributes.
    Returns per-doc seconds and the output rows."""
    from pdf_parser_spark.core import html_extract as hx

    secs, rows = [], []
    for url, html in docs:
        t0 = time.perf_counter()
        blocks = hx.segment_blocks(html)
        kept = [b for b in blocks if hx.classify_block(b, 0.33, 1)]
        text = "\f".join(b.text for b in kept)
        secs.append(time.perf_counter() - t0)
        rows.append(
            {"url": url, "extracted_text": text, "n_blocks": len(blocks),
             "n_content_blocks": len(kept)}
        )
    return secs, rows


def output_build_s(rows: list[dict], schema, batch: int = 256) -> float:
    """Time to turn output rows into Arrow record batches the way a
    mapInPandas operator does: a pandas frame per batch of `batch` rows
    (the session's maxRecordsPerBatch), converted by PySpark's own
    pandas UDF serializer to the Spark schema."""
    import pandas as pd
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    serializer = ArrowStreamPandasUDFSerializer("UTC", True, True)
    arrow_type = to_arrow_type(schema)
    total = 0.0
    for k in range(0, len(rows), batch):
        t0 = time.perf_counter()
        frame = pd.DataFrame(rows[k : k + batch], columns=schema.names)
        serializer._create_batch([(frame, arrow_type)])
        total += time.perf_counter() - t0
    return total


def attribution_check(docs: list[tuple[str, str]]) -> dict[str, float]:
    """Replay every doc twice, once plain and once with a PLANTED_DELAY
    share added to every PLANTED_STAGE call, alternating which goes
    first, and compare the accumulated self times. Interleaving per doc
    keeps machine drift out of the difference.

    target_share: the planted stage's self-time gain ÷ the delay added
    (1 = all of it found). max_other_share: the largest self-time shift
    of any other stage ÷ the delay added (0 = none leaked)."""
    from pdf_parser_spark.core import pipeline

    base = StageSpans()
    planted = StageSpans({PLANTED_STAGE: PLANTED_DELAY})
    for i, (url, text) in enumerate(docs):
        for spans in (base, planted) if i % 2 else (planted, base):
            with spans:
                pipeline.extract_document(text, doc_title=url)
    added = planted.injected_s
    shift = {p: planted.self_s[p] - base.self_s[p] for p in base.self_s}
    others = [abs(v) for p, v in shift.items() if p != PLANTED_STAGE]
    return {
        "selfcheck.target_share": shift[PLANTED_STAGE] / added,
        "selfcheck.max_other_share": max(others) / added,
    }
