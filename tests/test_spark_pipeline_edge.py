"""Pipeline edge cases: oversized documents must flow through the Arrow
batch machinery without blowing a worker (SURVEY.md §4 physical risk;
batches are bounded by rows AND bytes in session.py), and every parse
stage must apply the same input guards."""

import functools

from pyspark.sql import functions as F

from closure_html_spark.spark import pipeline
from closure_html_spark.spark.pipeline import (
    RESULT_COL_DDL,
    bookmarks_of,
    extract_pages,
    jsonld_of,
    metadata_of,
    nodes_of,
    serialize_pages,
    tables_of,
    tokens_of,
)

ALL_COLS = tuple(RESULT_COL_DDL)


def test_extract_all_columns_pinned(spark):
    """Every result column of the direct pyarrow assembly, pinned to the
    values the retired mapInPandas baseline also produced: entity
    decoding, the content_type charset seed (u1 has no <meta>), the
    empty-page row and a repaired tag-soup page."""
    rows = [("u0", bytearray(b"<html><body><p>a &amp; b</p></body></html>"),
             "text/html; charset=utf-8"),
            ("u1", bytearray("<p>caf\xe9".encode("latin-1")),
             "text/html; charset=latin-1"),
            ("u2", bytearray(b""), None),
            ("u3", bytearray(b"<table><td>x<ul>soup"), None)]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    a = extract_pages(df, columns=ALL_COLS).orderBy("url").collect()
    assert a[0].__fields__ == ["url", *ALL_COLS, "main_text"]
    zero = [0, 0, 0, 0, 0]
    assert [tuple(r) for r in a] == [
        ("u0", "", "a & b", [(0, 5, 6.0, False)], [], [], None, 7, 0, zero,
         "utf-8", ""),
        ("u1", "", "caf\xe9", [(0, 4, 4.8, False)], [], [], None, 7, 0,
         zero, "latin-1", ""),
        ("u2", "", "", [], [], [], None, 4, 0, zero, "utf-8", ""),
        ("u3", "", "xsoup", [(0, 1, 1.0, False), (1, 5, 2.8, False)], [],
         [], None, 13, 0, zero, "utf-8", "")]


def test_columns_projection_matches_full(spark):
    """columns= (metadata-now / text-lazily) must return exactly the full
    run's values for the requested columns, with ONLY those columns in
    the schema (the point: the text payload never enters the batch)."""
    rows = [(f"u{i}", bytearray(
        f"<html><body><p>doc {i} &amp; more</p><unknowntag></body></html>"
        .encode())) for i in range(50)]
    df = spark.createDataFrame(rows, "url string, html binary")
    full = extract_pages(df).orderBy("url") \
        .select("url", "n_nodes", "n_warns", "warn_levels").collect()
    proj = extract_pages(
        df, columns=("n_nodes", "n_warns", "warn_levels")).orderBy("url")
    assert set(proj.columns) == {"url", "n_nodes", "n_warns", "warn_levels"}
    assert [tuple(r) for r in proj.collect()] == [tuple(r) for r in full]
    # title-only still attaches no main_text (needs text+spans)
    t = extract_pages(df, columns=("title", "charset"))
    assert set(t.columns) == {"url", "title", "charset"}


def test_links_column(spark):
    """The `links` result column: HREFs of <A> nodes in document order --
    A without HREF contributes nothing, duplicates and orderings are
    preserved, error rows yield []."""
    rows = [
        ("u0", bytearray(b'<html><body>'
                         b'<a href="/z">z</a><a name="anchor">no href</a>'
                         b'<p><a href="/a">a</a></p><a href="/z">z again</a>'
                         b'</body></html>'), None),
        ("u1", bytearray(b"<p>no links here"), None),
        ("u2", bytearray(b""), None),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    a = {r["url"]: r["links"]
         for r in extract_pages(df, columns=ALL_COLS).collect()}
    assert a["u0"] == ["/z", "/a", "/z"]   # document order, dups kept
    assert a["u1"] == []
    assert a["u2"] == []                   # empty/error doc -> []
    # links-only projection skips the text build but returns the same value
    proj = extract_pages(df, columns=("links",))
    assert set(proj.columns) == {"url", "links"}
    assert {r["url"]: r["links"] for r in proj.collect()} == a
    # the default column set excludes links/base (second-walk payloads)
    assert "links" not in extract_pages(df).columns
    assert "base" not in extract_pages(df).columns


def test_base_column(spark):
    """The `base` result column: href of the first BASE node (the
    reference's own fixture pins BASE in HEAD, test.lisp:5-18); absent
    base -> null; first BASE wins."""
    rows = [
        ("u0", bytearray(b'<html><head><base href="https://cdn.example/a/">'
                         b'</head><body><a href=x.html>x</a></body></html>')),
        ("u1", bytearray(b'<html><head><base href="/one"><base href="/two">'
                         b'</head><body>t</body></html>')),
        ("u2", bytearray(b"<p>no base")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    a = {r["url"]: r["base"]
         for r in extract_pages(df, columns=("links", "base")).collect()}
    assert a["u0"] == "https://cdn.example/a/"
    assert a["u1"] == "/one"
    assert a["u2"] is None


def test_error_row_mid_batch_alignment(spark):
    """A document whose processing raises mid-batch (null html -> bytes()
    TypeError) must yield exactly one error row and leave every later row
    aligned -- the staged-locals/single-append structure makes interleaved
    appends impossible (round-4 verdict #3)."""
    rows = [("u0", bytearray(b"<html><body><p>first ok</p></body></html>")),
            ("u1", None),
            ("u2", bytearray(b"<html><body><p>third ok</p></body></html>"))]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(1)
    got = {r["url"]: tuple(r) for r in
           extract_pages(df, columns=ALL_COLS).collect()}
    zero = [0, 0, 0, 0, 0]
    assert got["u1"] == ("u1", "", "", [], [], [], None, 0, -1, zero,
                         "error:TypeError", "")
    # neighbors unshifted
    for url, word in (("u0", "first ok"), ("u2", "third ok")):
        assert got[url] == (url, "", word, [(0, 8, 9.6, False)], [], [],
                            None, 7, 0, zero, "utf-8", "")


def test_nodes_of_pinned(spark):
    """nodes_of row-for-row, pinned to the values the retired pandas
    baseline also produced: attrs maps, the pre-order renumbering from the
    post-mortem root (root parent -1) and the repaired soup structure."""
    rows = [("u0", bytearray(b'<html><head><title>T</title></head><body>'
                             b'<div id="nav" class="menu"><a href="/x">x</a>'
                             b'</div><p>text &amp; entity</p></body></html>')),
            ("u1", bytearray(b"<table><td>soup<ul><li>deep")),
            ("u2", bytearray(b""))]
    df = spark.createDataFrame(rows, "url string, html binary")

    def rowset(d):
        return sorted((r["url"], r["node_id"], r["parent_id"], r["depth"],
                       r["name"], tuple(sorted((r["attrs"] or {}).items())),
                       r["text"]) for r in d.collect())

    assert rowset(nodes_of(df)) == [
        ("u0", 0, -1, 0, "HTML", (), None),
        ("u0", 1, 0, 1, "HEAD", (), None),
        ("u0", 2, 1, 2, "TITLE", (), None),
        ("u0", 3, 2, 3, "#PCDATA", (), "T"),
        ("u0", 4, 0, 1, "BODY", (), None),
        ("u0", 5, 4, 2, "DIV", (("CLASS", "menu"), ("ID", "nav")), None),
        ("u0", 6, 5, 3, "A", (("HREF", "/x"),), None),
        ("u0", 7, 6, 4, "#PCDATA", (), "x"),
        ("u0", 8, 4, 2, "P", (), None),
        ("u0", 9, 8, 3, "#PCDATA", (), "text & entity"),
        ("u1", 0, -1, 0, "HTML", (), None),
        ("u1", 1, 0, 1, "HEAD", (), None),
        ("u1", 2, 0, 1, "BODY", (), None),
        ("u1", 3, 2, 2, "TABLE", (), None),
        ("u1", 4, 3, 3, "TBODY", (), None),
        ("u1", 5, 4, 4, "TR", (), None),
        ("u1", 6, 5, 5, "TD", (), None),
        ("u1", 7, 6, 6, "#PCDATA", (), "soup"),
        ("u1", 8, 6, 6, "UL", (), None),
        ("u1", 9, 8, 7, "LI", (), None),
        ("u1", 10, 9, 8, "#PCDATA", (), "deep"),
        ("u2", 0, -1, 0, "HTML", (), None),
        ("u2", 1, 0, 1, "HEAD", (), None),
        ("u2", 2, 0, 1, "BODY", (), None)]


def test_tokens_of_pinned(spark):
    """tokens_of row-for-row, pinned to the values the retired pandas
    baseline also produced: repeated-attribute dedup (last wins), bare
    attributes, raw-lexer (pre-normalization) attr names, comments."""
    rows = [("u0", bytearray(b'<html><body>'
                             b'<a href="/1" href="/2" selected>x</a>'
                             b'<p>t &amp; u</p></body></html>')),
            ("u1", bytearray(b"<td>bare soup <!-- c -->"))]
    df = spark.createDataFrame(rows, "url string, html binary")

    def rowset(d):
        return sorted((r["url"], r["pos"], r["kind"], r["name"],
                       tuple(sorted((r["attrs"] or {}).items())), r["text"])
                      for r in d.collect())

    assert rowset(tokens_of(df)) == [
        ("u0", 0, "start", "HTML", (), None),
        ("u0", 1, "start", "BODY", (), None),
        # last href wins; the bare attr maps to ""
        ("u0", 2, "start", "A", (("href", "/2"), ("selected", "")), None),
        ("u0", 3, "pcdata", None, (), "x"),
        ("u0", 4, "end", "A", (), None),
        ("u0", 5, "start", "P", (), None),
        ("u0", 6, "pcdata", None, (), "t & u"),
        ("u0", 7, "end", "P", (), None),
        ("u0", 8, "end", "BODY", (), None),
        ("u0", 9, "end", "HTML", (), None),
        ("u0", 10, "eof", None, (), None),
        ("u1", 0, "start", "TD", (), None),
        ("u1", 1, "pcdata", None, (), "bare soup "),
        ("u1", 2, "comment", None, (), " c "),
        ("u1", 3, "eof", None, (), None)]


def test_20mb_document_mixed_with_small(spark):
    big_body = ("<p>" + "big document content word soup " * 200 + "</p>") * 3200
    big = ("<html><head><title>Big</title></head><body>" + big_body
           + "</body></html>").encode()
    assert len(big) > 15_000_000
    rows = [("https://big.example/1", bytearray(big))]
    rows += [(f"https://small.example/{i}",
              bytearray(b"<html><body><p>small</p></body></html>"))
             for i in range(500)]
    df = spark.createDataFrame(rows, "url string, html binary").repartition(8)
    out = extract_pages(df)
    assert out.filter(F.col("charset").startswith("error:")).count() == 0
    bigrow = out.filter(F.col("url") == "https://big.example/1").collect()[0]
    assert bigrow["extracted_text"].startswith("big document content")
    assert bigrow["n_nodes"] > 6000
    assert out.count() == 501


def test_oversize_doc_cap_truncates_and_marks(spark):
    """max_doc_bytes: a page past the cap is truncated (the prefix still
    parses and extracts), marked charset='error:oversize', and counted as
    ONE level-5 warning; rows in the same batch are untouched.  The
    default 64 MiB cap leaves ordinary corpora
    unaffected (the 20 MB test above runs under it with zero error
    rows)."""
    big = ("<html><body><p>" + "word " * 100_000
           + "</p></body></html>").encode()
    rows = [("u_big", bytearray(big)),
            ("u_ok", bytearray(b"<html><body><p>fine</p></body></html>"))]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in extract_pages(
        df, columns=ALL_COLS, max_doc_bytes=4096).collect()}
    bigr = out["u_big"]
    assert bigr["charset"] == "error:oversize"
    assert bigr["warn_levels"][4] == 1
    assert bigr["extracted_text"].startswith("word word")
    assert len(bigr["extracted_text"]) < 5000  # truncated, not full 500 KB
    assert out["u_ok"]["charset"] == "utf-8"
    assert out["u_ok"]["extracted_text"] == "fine"
    # the prefix cut mid-word: 4096 bytes minus the 15-byte <html><body><p>
    assert bigr["extracted_text"] == ("word " * 817)[:4081]
    assert [tuple(s) for s in bigr["spans"]] == [(0, 4081, 4897.2, True)]
    assert (bigr["n_nodes"], bigr["n_warns"]) == (7, 1)
    assert list(bigr["warn_levels"]) == [0, 0, 0, 0, 1]


def test_out_batch_rows_coalescing_identical(spark):
    """out_batch_rows: coalesced output batches must be value-identical to
    the per-input-batch default (forced multi-batch input via a tiny
    arrow batch cap)."""
    rows = [(f"u{i:03d}", bytearray(
        f"<html><head><title>D{i}</title></head><body><div id=n>"
        f"<a href=/{i}>l</a></div><p>content {i} text</p></body></html>"
        .encode())) for i in range(64)]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(2)
    cap = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        a = extract_pages(df, columns=ALL_COLS).orderBy("url").collect()
        b = extract_pages(df, columns=ALL_COLS,
                          out_batch_rows=1000).orderBy("url").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", cap)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 64


# one page every family has something to say about: title, h1, a table
# cell, a JSON-LD block and a bookmark-style link (the netscape-bookmark
# DTD reads the DL/DT/A part)
_FAMILY_PAGE = ('<html><head><title>{w}</title>'
                '<script type="application/ld+json">{{"name":"{w}"}}</script>'
                '</head><body><h1>{w}</h1><table><tr><td>{w}</td></tr></table>'
                '<dl><dt><a href="/{w}">{w}</a></dl>')
_CAP = 400


def _all_families(df, max_doc_bytes):
    """Each family's output per url, id columns dropped."""
    stages = {
        "extract": lambda d: extract_pages(d, columns=ALL_COLS,
                                           max_doc_bytes=max_doc_bytes),
        "serialize": serialize_pages, "nodes": nodes_of,
        "tokens": tokens_of, "bookmarks": bookmarks_of,
        "tables": tables_of, "metadata": metadata_of, "jsonld": jsonld_of}
    out = {}
    for name, stage in stages.items():
        rows = {}
        for r in stage(df).collect():
            vals = tuple(sorted(v.items()) if isinstance(v, dict) else v
                         for v in tuple(r)[1:])
            rows.setdefault(r["url"], []).append(vals)
        out[name] = {u: sorted(v, key=repr) for u, v in rows.items()}
    return out


def test_every_family_shares_charset_seed_and_cap(spark, monkeypatch):
    """All eight parse stages run behind one guarded loop, so they decode
    a header-only ISO-8859-1 page (charset only in content_type, no
    <meta>) to the same non-ASCII text, and clip an oversize page to the
    same prefix.  The seven stages without a cap parameter are driven
    through the shared helper with a small cap."""
    monkeypatch.setattr(pipeline, "_parse_stage", functools.partial(
        pipeline._parse_stage, max_doc_bytes=_CAP))
    latin = _FAMILY_PAGE.format(w="caf\xe9").encode("latin-1")
    body = _FAMILY_PAGE.format(w="kept") + "<p>" + "pad " * 100
    big = (body + _FAMILY_PAGE.format(w="gone")).encode()
    prefix = big[:_CAP]
    assert len(latin) < _CAP and b"gone" not in prefix
    df = spark.createDataFrame(
        [("latin", bytearray(latin), "text/html; charset=iso-8859-1"),
         ("big", bytearray(big), None)],
        "url string, html binary, content_type string")
    got = _all_families(df, _CAP)

    cafe = "caf\xe9"
    ext = got["extract"]["latin"][0]
    assert ext[0] == cafe and ext[1] == cafe * 3  # title; h1 + cell + link
    assert ext[-2] == "latin-1"
    assert got["metadata"]["latin"] == [(cafe, "", "", "", cafe)]
    assert got["tables"]["latin"] == [(0, 0, 0, "TD", cafe)]
    assert got["jsonld"]["latin"] == [(0, '{"name":"%s"}' % cafe)]
    assert got["bookmarks"]["latin"] == [("", cafe, "/" + cafe)]
    assert [r[5] for r in got["nodes"]["latin"]].count(cafe) == 4
    assert [r[4] for r in got["tokens"]["latin"]].count(cafe) == 4
    assert got["serialize"]["latin"][0][0].count(cafe) == 5

    # the oversize page: every family sees exactly the prefix a
    # prefix-only page shows it, and nothing past the cap
    ref = _all_families(spark.createDataFrame(
        [("big", bytearray(prefix), None)],
        "url string, html binary, content_type string"), None)
    for name in got:
        assert "gone" not in repr(got[name]["big"]), name
        if name != "extract":
            assert got[name]["big"] == ref[name]["big"], name
    capped, whole = got["extract"]["big"][0], ref["extract"]["big"][0]
    # extract additionally marks the row: charset + one level-5 warning
    assert capped[:7] == whole[:7] and capped[-1] == whole[-1]
    assert capped[-2] == "error:oversize" and whole[-2] == "utf-8"
    assert capped[7] == whole[7] + 1                 # n_warns
    assert capped[8][4] == whole[8][4] + 1           # warn_levels[4]
    assert "kept" in capped[1]
