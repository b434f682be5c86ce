"""Byte-identity referee for the core regex fast paths.

core/text.py, core/chunking.py and core/matching.py skip regex passes
that cannot change their input (superset pre-checks, one whole-text
space pass instead of one per line, one build per distinct chunk page
range, one title clean per distinct title). The functions below are the
pre-fast-path implementations, kept verbatim as oracles; hypothesis
compares them with the live code on adversarial text. No reference
checkout is needed.

The alphabet carries every `str.splitlines` boundary, NBSP variants,
tabs, other non-newline whitespace, spaced / glued caption keywords and
dot-leader runs; each boundary character also has a fixed @example.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest
from hypothesis import example, given, settings, strategies as st

# deterministic examples, as in test_property_parity: the gate must not
# flake on a freshly drawn corner case
settings.register_profile("gate", derandomize=True)
settings.load_profile("gate")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core import chunking, matching
from pdf_parser_spark.core import text as core_text
from pdf_parser_spark.core.chunking import _gather_lines
from pdf_parser_spark.core.matching import clean_toc_title, fuzzy_ratio
from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.core.text import (
    _CAMEL_BOUNDARY,
    _DASH_WRAP_ANY,
    _DASHES,
    _HSPACE_RUN,
    _HYPHEN_WRAP_LOWER,
    _LEADER_RUN,
    _LEADER_RUN_THEN_PAGE,
    _LIGATURE_FOLD,
    _LONE_SLASH,
    _NBSP,
    _QUOTED_SPAN,
    _SPACE_RUN,
    _SPACED_FIGURE,
    _SPACED_TABLE,
    _FIGURE_GLUED,
    _TABLE_GLUED,
    BULLET_GLYPHS,
    FIGURE_CAPTION,
    TABLE_CAPTION,
    norm_id,
    normalize_sentences,
)
from pdf_parser_spark.sources.synth import generate_corpus

# --- oracles: the pre-fast-path functions, verbatim -------------------


def normalize_text(s: str) -> str:
    if not s:
        return ""
    s = _NBSP.sub(" ", s)
    s = _DASHES.sub("-", s)
    for src, dst in _LIGATURE_FOLD:
        s = s.replace(src, dst)
    s = _HSPACE_RUN.sub(" ", s)
    return s.strip()


def norm_caption_line(s: str) -> str:
    s = _NBSP.sub(" ", s)
    s = _DASHES.sub("-", s)
    s = _SPACED_TABLE.sub("Table", s)
    s = _SPACED_FIGURE.sub("Figure", s)
    s = _TABLE_GLUED.sub(r"\1 ", s)
    s = _FIGURE_GLUED.sub(r"\1 ", s)
    return _SPACE_RUN.sub(" ", s).strip()


def clean_content(text: str) -> str:
    if not text:
        return ""
    for glyph in BULLET_GLYPHS:
        text = text.replace(glyph, "- ")
    text = _HYPHEN_WRAP_LOWER.sub(r"\1\2", text)
    text = _DASH_WRAP_ANY.sub(r"\1 \2", text)
    text = text.replace('\\"', '"').replace("\\'", "'")
    text = _LONE_SLASH.sub("", text)
    text = _CAMEL_BOUNDARY.sub(r"\1 \2", text)
    text = _QUOTED_SPAN.sub(r' "\1" ', text)

    kept: list[str] = []
    for line in text.splitlines():
        ln = line.rstrip()
        ln = _LEADER_RUN_THEN_PAGE.sub("", ln)
        ln = _LEADER_RUN.sub(" ", ln)
        ln = _SPACE_RUN.sub(" ", ln).strip()
        if ln:
            kept.append(ln)
    return "\n".join(kept).strip()


def _assemble(lines: list[str], section_id: str, title: str, pstart: int, pend: int) -> dict:
    return {
        "section_path": f"{section_id} {title}",
        "section_id": section_id,
        "title": title,
        "page_range": f"{pstart},{pend}",
        "content": clean_content("\n".join(lines)),
        "tables": [],
        "figures": [],
    }


def enrich_captions(chunks: list[dict]) -> None:
    for ch in chunks:
        ch["figures"] = []
        ch["tables"] = []
        if not ch["content"]:
            continue
        for line in ch["content"].splitlines():
            ln = norm_caption_line(line)
            m = FIGURE_CAPTION.search(ln)
            if m:
                ch["figures"].append(m.group(1))
                continue
            m = TABLE_CAPTION.search(ln)
            if m:
                ch["tables"].append(m.group(1))


def _chunks_from_bounds(
    bounds: list[tuple[int, int, str, str]],
    page_map: dict[int, str],
    skip_pages: set[int],
) -> list[dict]:
    chunks = [
        _assemble(_gather_lines(page_map, pstart, pend, skip_pages), sec, title, pstart, pend)
        for pstart, pend, sec, title in bounds
    ]
    enrich_captions(chunks)
    for ch in chunks:
        ch["content"] = normalize_sentences(ch["content"])
    return chunks


def match_sections(
    toc: list[dict],
    chunks: list[dict],
    fuzzy_threshold: float = 0.90,
    prefer_section_id: bool = True,
) -> tuple[list[str], list[str], list[str], list[str]]:
    chunk_by_id: dict[str, int] = {
        norm_id(c["section_id"]): i for i, c in enumerate(chunks) if c.get("section_id")
    }
    chunk_titles = [(i, clean_toc_title(c.get("title") or "").lower()) for i, c in enumerate(chunks)]

    used: set[int] = set()
    matched_labels: list[str] = []
    matched_idx: list[int | None] = []
    missing_labels: list[str] = []

    for t in toc:
        tid = norm_id(t["section_id"])
        title_clean = clean_toc_title(t.get("title") or "")

        found: int | None = None
        if prefer_section_id and tid in chunk_by_id and chunk_by_id[tid] not in used:
            found = chunk_by_id[tid]
        else:
            probe = title_clean.lower()
            best_i, best_score = None, 0.0
            for i, ltitle in chunk_titles:
                if i in used:
                    continue
                score = fuzzy_ratio(probe, ltitle)
                if score > best_score:
                    best_i, best_score = i, score
            if best_i is not None and best_score >= fuzzy_threshold:
                found = best_i

        if found is not None:
            used.add(found)
            matched_labels.append(f"{t['section_id']} {title_clean}")
            matched_idx.append(found)
        else:
            missing_labels.append(f"{t['section_id']} {title_clean}")
            matched_idx.append(None)

    extra_labels = [
        f"{c.get('section_id')} {clean_toc_title(c.get('title') or '')}"
        for i, c in enumerate(chunks)
        if i not in used
    ]

    out_of_order: list[str] = []
    last = -1
    for label, ci in zip(matched_labels, matched_idx):
        if ci is not None:
            if ci < last:
                out_of_order.append(label)
            else:
                last = ci
    return missing_labels, extra_labels, out_of_order, matched_labels


# --- strategies --------------------------------------------------------

# every character str.splitlines() breaks on ("\r\n" is one boundary)
SPLITLINES_BOUNDARIES = (
    "\n", "\r", "\r\n", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x85", "\u2028", "\u2029",
)
# whitespace that is NOT a line boundary: NBSP variants, tab, unit
# separator, figure / ideographic spaces
INLINE_SPACES = ("\u00a0", "\u202f", "\t", "\u00a0\u00a0", "  ", "\x1f", "\u2007", "\u3000")
TOKENS = SPLITLINES_BOUNDARIES + INLINE_SPACES + (
    "T a b l e", "F i g u r e", "t\xa0a b\tl e", "F\u202fi g u r e", "Table", "Figure",
    "TABLE", "figure", "Table5.1", "FigureA.1", "Table 3-2", "Figure–4", "Tab le",
    "Fig.", "5.1", "A.", "12", "3a", ".", "..", "...", ". . .", "·", "•", "·•.", "…",
    " .... 45", ". . 7", ".\t. 3", ".  .  . x", "\u00a0.\u00a0\u00a0.\u00a09",
    "-", "‐", "—", "−", "-\n", "inter-\nface",
    "/", " / ", "a/b", '"', '\\"', "'", "\\'", '"quoted"', "deviceState", "x",
    "word", "Page 3", "\uf0b7", "●", "ﬁ", "ﬂ", "1.2 Title",
    "Universal Serial Bus Power Delivery Specification", "Revision 3.2", "a b c d e f g",
)
CHARS = (
    "abXY09 .\u00b7\u2022\t\u00a0\u202f-\u2013/\"'\n\r\x0b\x0c\x1c\x1d\x1e\x85"
    "\u2028\u2029\x1f"
)

text_strategy = st.lists(
    st.one_of(st.sampled_from(TOKENS), st.text(alphabet=CHARS, max_size=4)),
    max_size=40,
).map("".join)


def _boundary_examples(fn):
    """One fixed example per splitlines boundary: leaders, captions,
    inline whitespace runs and blank lines on both sides of it."""
    for b in SPLITLINES_BOUNDARIES:
        fn = example(
            f"  T a b l e 5.1 x\xa0\xa0y{b}{b}overview . . . 12 \t{b}"
            f"Figure3-2 a  b{b}\u202f\x1f z .·• w{b}d .\t.  . 4{b}"
        )(fn)
    return fn


# --- differential properties ------------------------------------------


@settings(max_examples=1500, deadline=None)
@_boundary_examples
@given(text_strategy)
def test_text_fastpaths_match_oracles(text):
    assert core_text.clean_content(text) == clean_content(text), repr(text)
    assert core_text.normalize_text(text) == normalize_text(text), repr(text)
    for line in text.splitlines() or [text]:
        assert core_text.norm_caption_line(line) == norm_caption_line(line), repr(line)


@settings(max_examples=1500, deadline=None)
@_boundary_examples
@given(text_strategy)
def test_caption_precheck_matches_oracle(content):
    """Same captions as running norm_caption_line on every line, for
    raw text and for the cleaned content the chunker feeds it."""
    for text in (content, clean_content(content)):
        ch = {"content": text}
        enrich_captions([ch])
        assert chunking._caption_ids(text) == (ch["figures"], ch["tables"]), repr(text)


page_text = st.lists(text_strategy, min_size=1, max_size=4).map("\n".join)


@st.composite
def documents(draw):
    n = draw(st.integers(1, 6))
    page_map = {p: draw(page_text) for p in range(1, n + 1)}
    spans = st.tuples(st.integers(1, n), st.integers(0, 2))
    bounds = [
        (a, a + d, sid, title)
        for (a, d), sid, title in draw(
            st.lists(
                st.tuples(spans, st.sampled_from(["1", "1.1", "2", "A.1"]), text_strategy),
                max_size=8,
            )
        )
    ]
    skip = set(draw(st.lists(st.integers(1, n), max_size=2)))
    return bounds, page_map, skip


@settings(max_examples=400, deadline=None)
@given(documents())
def test_chunk_range_memo_matches_oracle(doc):
    """Chunks that share a page range (ToC rows on one page) get equal
    but separate caption lists, exactly as when built one by one."""
    bounds, page_map, skip = doc
    got = chunking._chunks_from_bounds(bounds, page_map, skip)
    assert got == _chunks_from_bounds(bounds, page_map, skip)
    lists = [id(c[k]) for c in got for k in ("tables", "figures")]
    assert len(set(lists)) == len(lists)


title_strategy = st.one_of(
    text_strategy,
    st.sampled_from(["Overview", "Power Rules", "1.2 Overview", "Overview .... 4", ""]),
)
rows = st.lists(
    st.fixed_dictionaries(
        {
            "section_id": st.sampled_from(["1", "1.1", "1–1", "2", "A.1", ""]),
            "title": title_strategy,
        }
    ),
    max_size=8,
)


@settings(max_examples=400, deadline=None)
@given(rows, rows, st.booleans())
def test_match_sections_title_memo_matches_oracle(toc, chunks, prefer_id):
    # chunk titles usually repeat ToC titles: share some on purpose
    chunks = chunks + [dict(t) for t in toc[::2]]
    assert matching.match_sections(toc, chunks, prefer_section_id=prefer_id) == match_sections(
        toc, chunks, prefer_section_id=prefer_id
    )


# --- pinned whole-pipeline digest --------------------------------------

# sha256 over extract_document output for generate_corpus(400, seed),
# mega-documents included, recorded with the pre-fast-path code. An
# in-process comparison (the benchmark's own output check) cannot see a
# drift that both sides share; this pin can.
PINNED_DIGESTS = {
    42: "a886c67de9ec18a804c64274844ad5a766bcc24e6d2338dd683d61b4b9fe5772",
    7: "32c507c80530f25b8df47ca20136860f23229a2cafa27a63d4b5b577ee2c723f",
}


def corpus_digest(seed: int, n_docs: int = 400) -> str:
    """Error rows hash only their last traceback line: the frames carry
    checkout paths, the exception itself is the contract."""
    h = hashlib.sha256()
    for doc in generate_corpus(n_docs, seed=seed):
        out = extract_document(doc["text"], doc_title=doc["url"])
        if out["error"]:
            out["error"] = out["error"].strip().splitlines()[-1]
        h.update(json.dumps(out, sort_keys=True, ensure_ascii=False).encode())
        h.update(b"\0")
    return h.hexdigest()


@pytest.mark.parametrize("seed", sorted(PINNED_DIGESTS))
def test_extract_document_output_digest_is_pinned(seed):
    assert corpus_digest(seed) == PINNED_DIGESTS[seed]
