"""Seeded benchmark inputs, generated with `sources.synth` and cached on disk.

Every input is a pure function of (kind, seed, size): the same seed gives
byte-identical rows. A cache entry is written to a temporary directory
and renamed into place, so an interrupted run never leaves half an input.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# one mega-document (hundreds of pages) per this many docs, the
# generator's default skew
MEGA_EVERY = 40
CORPUS_FILES = 8

# sources.corpus.DOCUMENTS_SCHEMA as Arrow types
_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def doc_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def _generate(seed: int, ids) -> list[dict]:
    from pdf_parser_spark.sources.synth import make_document

    return [make_document(i, seed=seed, mega=(i > 0 and i % MEGA_EVERY == 0)) for i in ids]


def _cached(path: Path, build) -> Path:
    if path.exists():
        return path
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.rename(tmp, path)
    return path


def _write(rows: list[dict], path: Path, files: int = 1) -> None:
    """Rows in the documents-table schema, split over `files` parquet
    files in order."""
    path.mkdir()
    step = -(-len(rows) // files)
    for k in range(0, len(rows), step):
        chunk = rows[k : k + step]
        table = pa.table({name: [r[name] for r in chunk] for name in _SCHEMA.names}, _SCHEMA)
        pq.write_table(table, path / f"part-{k // step:05d}.parquet")


def host_ordered_corpus(cache: Path, seed: int, n_docs: int) -> str:
    """`n_docs` synthetic documents written sorted by (host, doc id), the
    way WARC files arrive: each file holds a run of one or two hosts."""

    def build(tmp: Path) -> None:
        rows = _generate(seed, range(n_docs))
        rows.sort(key=lambda r: (r["url"].split("/")[2], doc_id(r["url"])))
        _write(rows, tmp / "docs.parquet", files=CORPUS_FILES)

    return str(_cached(cache / f"corpus-s{seed}-n{n_docs}", build) / "docs.parquet")


def read_column(path: str, column: str) -> dict[str, object]:
    """url → column value, read straight from the parquet files."""
    table = pq.read_table(path, columns=["url", column])
    return dict(zip(table.column("url").to_pylist(), table.column(column).to_pylist()))


def read_urls(path: str) -> list[str]:
    return pq.read_table(path, columns=["url"]).column("url").to_pylist()


def _near_twin_text(text: str) -> str:
    """One inserted word: a new md5 fingerprint, Jaccard ~0.99."""
    words = text.split(" ")
    words.insert(len(words) // 2, "revised")
    return " ".join(words)


def curate_batches(cache: Path, seed: int, n_first: int) -> dict:
    """Two ingest batches for the incremental curate job.

    Batch 1 holds docs 0..n_first-1. Batch 2 holds n_first new docs plus
    n_first/20 exact twins and n_first/20 near twins of distinct batch-1
    docs, under new urls. Twin sources are long non-mega docs, which the
    quality filters keep. Returns the two parquet paths and
    `twins`: twin url → {"kind": "exact"|"near", "source": url}.
    """

    def build(tmp: Path) -> None:
        first = _generate(seed, range(n_first))
        second = _generate(seed, range(n_first, 2 * n_first))
        n_twins = max(1, n_first // 20)
        candidates = [
            d for i, d in enumerate(first)
            if i % MEGA_EVERY != 0 and len(d["text"].split()) >= 600
        ]
        sources = random.Random(seed).sample(candidates, 2 * n_twins)
        twins = {}
        for j, src in enumerate(sources):
            kind = "exact" if j < n_twins else "near"
            twin = dict(src, url=f"{src['url']}/{kind}-twin")
            if kind == "near":
                twin["text"] = _near_twin_text(src["text"])
            second.append(twin)
            twins[twin["url"]] = {"kind": kind, "source": src["url"]}
        _write(first, tmp / "batch1.parquet")
        _write(second, tmp / "batch2.parquet")
        (tmp / "twins.json").write_text(json.dumps(twins, sort_keys=True))

    root = _cached(cache / f"curate-s{seed}-n{n_first}", build)
    return {
        "batch1": str(root / "batch1.parquet"),
        "batch2": str(root / "batch2.parquet"),
        "twins": json.loads((root / "twins.json").read_text()),
    }
