"""Traced replay of a fixed sample of a workload, in one process.

The sample goes through the layers' public functions in the order the
workload's Spark stages call them (decode_html -> parse_html -> one
extractor per stage).  Spans are kept in memory: name, start, end and
parent, and all spans of one page share the page's id.  A layer's self
time is its span's duration minus the time its child spans cover.  The
tracing overhead is the traced replay minus the untraced replay of the
same sample.  A last, untimed pass counts the whole-tag memo's lookups
and hits.
"""

from __future__ import annotations

import gc
import statistics
import time
from array import array
from collections import defaultdict

from closure_html_spark.dtd import load_dtd
from closure_html_spark.extract import (
    extract_main_content,
    jsonld_of_doc,
    metadata_of_doc,
    tables_of_doc,
)
from closure_html_spark.parser.charset import decode_html
from closure_html_spark.parser.pda import parse_html

TAG_MEMO_CAP = 65536  # closure_html_spark/parser/pda.py whole-tag memo cap

# the Spark stage -> the extractor it calls, by span name
EXTRACTORS = {
    "extract_pages": "extract_main_content",
    "metadata_of": "metadata_of_doc",
    "tables_of": "tables_of_doc",
    "jsonld_of": "jsonld_of_doc",
}


class Tracer:
    """In-memory span recorder.  Span i is (page[i], name[i], start[i],
    end[i], parent[i]), parent an index into the spans or -1 for a page's
    root span.  Columns live in flat arrays, so recording allocates no
    per-span container the garbage collector would have to walk."""

    def __init__(self):
        self.page_of = array("l")
        self.name = []
        self.start = array("d")
        self.end_t = array("d")
        self.parent = array("l")
        self._stack: list[int] = []
        self.page = -1

    def begin(self, name: str) -> None:
        self._stack.append(len(self.name))
        self.parent.append(self._stack[-2] if len(self._stack) > 1 else -1)
        self.page_of.append(self.page)
        self.name.append(name)
        self.end_t.append(0.0)
        self.start.append(time.perf_counter())

    def end(self) -> None:
        self.end_t[self._stack.pop()] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        n = len(self.name)
        dur = [self.end_t[i] - self.start[i] for i in range(n)]
        child = [0.0] * n
        for i in range(n):
            if self.parent[i] >= 0:
                child[self.parent[i]] += dur[i]
        out: dict[str, float] = defaultdict(float)
        for i in range(n):
            out[self.name[i]] += dur[i] - child[i]
        return dict(out)


class _CountingMemo(dict):
    """A copy of the whole-tag memo that counts lookups and hits: the
    parser binds `memo.get` and its values are never None."""

    def __init__(self, memo: dict):
        super().__init__(memo)
        self.lookups = self.hits = 0

    def get(self, key, default=None):
        self.lookups += 1
        hit = dict.get(self, key, default)
        if hit is not None:
            self.hits += 1
        return hit


def fill_memo(dtd, pages) -> int:
    """Parse `pages` until the tag memo is full; returns the pages used."""
    used = 0
    for raw, ct in pages:
        if len(dtd.tag_cache) >= TAG_MEMO_CAP:
            break
        parse_html(dtd, decode_html(raw, "utf-8", ct)[0])
        used += 1
    return used


class _Off:
    """The untraced replay's stand-in: same call sites, no recording."""

    page = -1

    def begin(self, name: str) -> None:
        pass

    def end(self) -> None:
        pass


def _replay(pages, stages, tr, counts) -> None:
    """pages: [(raw bytes, content_type)]; stages: EXTRACTORS keys, in the
    order the workload's job runs them.  Each stage decodes and parses on
    its own, as the program's stages do; only extract_pages passes the
    content_type header to the decoder."""
    dtd = load_dtd()
    for page_id, (raw, ct) in enumerate(pages):
        tr.page = page_id
        tr.begin("page")
        for stage in stages:
            tr.begin(stage)
            tr.begin("decode_html")
            text, _ = decode_html(raw, "utf-8",
                                  ct if stage == "extract_pages" else None)
            tr.end()
            tr.begin("parse_html")
            doc = parse_html(dtd, text)
            tr.end()
            tr.begin(EXTRACTORS[stage])
            if stage == "extract_pages":
                res = extract_main_content(doc, dtd, with_main_text=False)
            elif stage == "metadata_of":
                res = metadata_of_doc(doc)
            elif stage == "tables_of":
                res = tables_of_doc(doc)
            else:
                res = jsonld_of_doc(doc)
            tr.end()
            tr.end()
            if counts is not None:
                counts["nodes"] += len(doc.name)
                if stage == "extract_pages":
                    counts["spans"] += len(res["spans"])
                    counts["kept_spans"] += sum(1 for s in res["spans"]
                                                if s[3])
        tr.end()


def traced_replay(sample, stages, warm_pages, rounds: int = 5) -> dict:
    """Replay `sample` untraced and traced, alternating, `rounds` times
    each.  `warm_pages` are parsed first, until the tag memo is full, so
    the memo holds what a Python worker's does before timing.  Returns
    per-layer self times and counts of the last traced round, the median
    replay times and the memo's hit share over one more pass."""
    dtd = load_dtd()
    fill_memo(dtd, warm_pages)
    plain, traced = [], []
    tracer = counts = None
    for _ in range(rounds):
        gc.collect()  # each pass starts from the same collector state
        t0 = time.perf_counter()
        _replay(sample, stages, _Off(), None)
        plain.append(time.perf_counter() - t0)
        tracer, counts = Tracer(), defaultdict(int)
        gc.collect()
        t0 = time.perf_counter()
        _replay(sample, stages, tracer, counts)
        traced.append(time.perf_counter() - t0)
    memo, dtd.tag_cache = dtd.tag_cache, _CountingMemo(dtd.tag_cache)
    try:
        _replay(sample, stages, _Off(), None)
        lookups, hits = dtd.tag_cache.lookups, dtd.tag_cache.hits
    finally:
        dtd.tag_cache = memo
    return {
        "self_s": tracer.self_times(),
        "counts": dict(counts),
        "n_spans": len(tracer.name),
        "tag_memo_entries": len(memo),
        "tag_memo_hit_share": hits / lookups if lookups else 0.0,
        "untraced_s": statistics.median(plain),
        "traced_s": statistics.median(traced),
    }
