"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs.  Each returns the input table the program reads
(written to parquet by the caller) together with the answer the generator
already knows for every row, so outputs are checked without running any
code of the program under test.

crawl_families  Common-Crawl-like pages whose href/id/class values are
                unique per page, plus the five hostile families; a
                disjoint stream of the same pages warms the tag memo
corpus_dedup    a `documents` table (testdata schema) with fixed shares of
                exact and near duplicates
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass

import pyarrow as pa

WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small big query data column group "
         "filter order customer stream vector the a of in page crawl text "
         "index token parse tree node block span link score title body "
         "head meta shard host frame cache queue").split()
# latin-1 representable, so the ISO-8859-1 pages can carry them
ACCENTED = ("café naïve über señor façade déjà crème résumé "
            "garçon jalapeño").split()

_RAW_TAG = re.compile(r"<[^<>]*>")


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _words(rng: random.Random, lo: int, hi: int, vocab=WORDS) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


@dataclass
class Expected:
    """What the generator knows about one page's extraction output."""
    title: str
    text_md5: str
    text_len: int
    charset: str
    # fields a workload does not compare keep their defaults
    n_spans: int = -1
    md_title: str | None = None
    n_links: int = -1
    n_cells: int = -1
    n_jsonld: int = -1
    header_only_charset: bool = False


def _distinct_tags(htmls: list[str]) -> int:
    seen: set[str] = set()
    for h in htmls:
        seen.update(_RAW_TAG.findall(h))
    return len(seen)


# --- crawl_families ---------------------------------------------------------

_HOSTILE_HEAD = "<html><head><title>H</title></head><body>"
_META_LIE = ('<html><head><meta http-equiv=Content-Type '
             'content="text/html; charset=iso-8859-1">'
             '<title>H</title></head><body><p>x\xa9y')
HOSTILE_EVERY = 20      # page i is hostile when i % 20 == 19   (5%)
HEADER_ONLY_EVERY = 10  # page i is header-only ISO-8859-1 when i % 10 == 3


def _hostile(family: int, text: str) -> tuple[str, str, str]:
    """(html, expected extracted text, expected charset): the five hostile
    families of spark/pages.py, with their repaired closed forms."""
    if family == 0:
        return (_HOSTILE_HEAD + "<div>" * 200 + "<p>" + text, text, "utf-8")
    if family == 1:
        return (_HOSTILE_HEAD + "<p>" + text * 64, text * 64, "utf-8")
    if family == 2:
        return (_HOSTILE_HEAD + "<p>" + "&amp;" * 1000 + "&#65;" * 200 + text,
                "&" * 1000 + "A" * 200 + text, "utf-8")
    if family == 3:
        return (_HOSTILE_HEAD + "<p>" + "<3 " * 500 + text,
                "<3 " * 500 + text, "utf-8")
    # the UTF-8 bytes of the (c) sign re-decoded under the lying meta
    return _META_LIE + text, "x\xc2\xa9y" + text, "latin-1"


def _crawl_page(rng: random.Random, i: int, host: str, uid: str,
                charset_meta: bool) -> tuple[str, Expected]:
    title = f"{rng.choice(WORDS).title()} {rng.choice(ACCENTED)} {i}"
    text: list[str] = []
    links = 0
    h = ['<!DOCTYPE html><html lang=en><head>']
    if charset_meta:
        h.append("<meta charset=utf-8>")
    h.append(f"<title>{_esc(title)}</title>"
             f'<meta name=description content="{_words(rng, 6, 12)}">'
             f'<meta property="og:title" content="{_esc(title)}">'
             f'<link rel=canonical href="https://{host}/p/{uid}">'
             f'<link rel=stylesheet href="/s/{uid}.css">'
             f"<style>.c{uid}{{color:#333}}</style>")
    n_ld = rng.randint(0, 2)
    for j in range(n_ld):
        h.append('<script type="application/ld+json">{"@context": '
                 '"https://schema.org", "@type": "Article", "headline": "'
                 f'{_esc(title)}", "identifier": "{uid}-{j}"}}</script>')
    h.append(f'</head><body><div id=nav-{uid} class="nav n{uid}">')
    for j in range(rng.randint(40, 70)):
        w = rng.choice(WORDS)
        h.append(f'<a href="https://{host}/c/{uid}/{j}" '
                 f'class="l{uid}{j}">{w}</a>')
        text.append(w)
        links += 1
    h.append(f"</div><script>window.cfg_{uid} = {{\"id\": {i}}};</script>"
             f"<div id=main-{uid} class=content>")
    heading = _words(rng, 3, 6, WORDS + ACCENTED)
    h.append(f"<h1 id=h{uid}>{heading}</h1>")
    text.append(heading)
    for k in range(rng.randint(3, 6)):
        a = _words(rng, 20, 45, WORDS + ACCENTED)
        b = _words(rng, 10, 25)
        w = rng.choice(WORDS)
        amp = " & " if rng.random() < 0.3 else " "
        h.append(f'<p class="p{uid}{k}">{_esc(a + amp)}'
                 f'<a href="/r/{uid}/{k}">{w}</a> {_esc(b)}</p>')
        text.append(a + amp + w + " " + b)
        links += 1
    rows = rng.randint(2, 5)
    h.append(f"<table id=t{uid} class=data><tr><th>key</th><th>value</th>"
             "</tr>")
    text.append("keyvalue")
    for r in range(rows):
        v = rng.choice(WORDS)
        h.append(f"<tr><td>k{r}</td><td>{v}</td></tr>")
        text.append(f"k{r}{v}")
    h.append("</table>")
    cells = [rng.choice(WORDS) for _ in range(4)]
    h.append(f"<table class=soup{uid}><tr><td>{cells[0]}<td>{cells[1]}"
             f"<tr><td>{cells[2]}<td>{cells[3]}</table></div>")
    text.append("".join(cells))
    h.append(f"<div id=foot-{uid} class=footer>")
    for j in range(3):
        w = rng.choice(WORDS)
        h.append(f'<a href="/f/{uid}/{j}">{w}</a>')
        text.append(w)
        links += 1
    h.append("&copy; 2026</div></body></html>")
    text.append("\xa9 2026")
    et = "".join(text)
    return "".join(h), Expected(
        title=title, md_title=title, text_md5=md5_hex(et), text_len=len(et),
        charset="utf-8", n_links=links, n_cells=2 + 2 * rows + 4,
        n_jsonld=n_ld)


def crawl_pages(seed: int, n: int, part: str = "pages"):
    """`part` names an independent stream: "memo" gives pages that share
    no unique attribute value with the "pages" of the same seed."""
    rng = random.Random(f"crawl_families:{part}:{seed}")
    urls, blobs, cts, expected, htmls = [], [], [], [], []
    n_header_only = n_hostile = 0
    for i in range(n):
        uid = f"{rng.getrandbits(40):010x}"
        host = f"host{rng.randrange(200)}.example"
        urls.append(f"https://{host}/{seed}/{uid}")
        if i % HOSTILE_EVERY == HOSTILE_EVERY - 1:
            family = (i // HOSTILE_EVERY) % 5
            html, et, cs = _hostile(family, _words(rng, 40, 72))
            blobs.append(html.encode("utf-8"))
            cts.append(None)
            expected.append(Expected(
                title="H", md_title="H", text_md5=md5_hex(et),
                text_len=len(et), charset=cs, n_links=0, n_cells=0,
                n_jsonld=0))
            htmls.append(html)
            n_hostile += 1
            continue
        header_only = i % HEADER_ONLY_EVERY == 3
        html, exp = _crawl_page(rng, i, host, uid,
                                charset_meta=not header_only and rng.random()
                                < 0.5)
        if header_only:
            blobs.append(html.encode("latin-1"))
            cts.append("text/html; charset=ISO-8859-1")
            exp.charset = "latin-1"
            exp.header_only_charset = True
            n_header_only += 1
        else:
            blobs.append(html.encode("utf-8"))
            cts.append(rng.choice(("text/html; charset=utf-8", "text/html",
                                   None)))
        expected.append(exp)
        htmls.append(html)
    table = pa.table({"url": urls, "html": blobs,
                      "content_type": pa.array(cts, pa.string())})
    props = {"pages": n,
             "mean_page_bytes": round(sum(len(b) for b in blobs) / n, 1),
             "distinct_raw_tags": _distinct_tags(htmls),
             "header_only_charset_share": n_header_only / n,
             "hostile_share": n_hostile / n}
    return table, expected, props


# --- corpus_dedup -----------------------------------------------------------

# doc i copies an earlier doc's text when i % 10 == 4 (exact duplicate),
# and copies it with one word changed when i % 10 == 7 (near duplicate)
DUP_EVERY = 10


def corpus_documents(seed: int, n: int):
    rng = random.Random(f"corpus_dedup:{seed}")
    texts: list[str] = []
    n_exact = n_near = 0
    for i in range(n):
        if i % DUP_EVERY == 4:
            texts.append(texts[rng.randrange(i)])
            n_exact += 1
        elif i % DUP_EVERY == 7:
            ws = texts[rng.randrange(i)].split(" ")
            ws[rng.randrange(len(ws))] = rng.choice(WORDS)
            texts.append(" ".join(ws))
            n_near += 1
        else:
            # ~1 in 12 docs is too short for the >= 10-word quality gate
            lo, hi = (3, 9) if rng.random() < 1 / 12 else (12, 80)
            texts.append(_words(rng, lo, hi))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "de", "fr", "es")) for _ in range(n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    props = {"documents": n,
             "mean_doc_bytes": round(sum(len(t) for t in texts) / n, 1),
             "exact_dup_share": n_exact / n, "near_dup_share": n_near / n}
    return table, props


# the nav and footer of pages.py template 0
_NAV = "<div id=nav><a href=/>home</a> <a href=/about>about</a></div>"
_FOOTER = "<div class=footer><a href=/c>contact</a> &copy; 2026</div>"


def template0_page(doc_id: int, text: str) -> bytes:
    """The page corpus_clean_pipeline synthesizes from one document
    (pages.py template 0): used by the traced replay of corpus_dedup."""
    return (f"<html><head><title>Doc {doc_id}</title></head><body>"
            + _NAV + f"<p>{_esc(text)}</p>" + _FOOTER
            + "</body></html>").encode("utf-8")
