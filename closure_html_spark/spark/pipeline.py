"""The parse stages: pages -> one result table per output family.

Spark shape (SURVEY.md §3.1 "Spark version"): every stage is a single
narrow scan -> iterator-style mapInArrow (Arrow-batched, no per-row Python
marshalling at the row level; the parser itself is the per-document state
machine) -> result columns.  No shuffle is introduced by extraction itself;
repartitioning for skew is the caller's choice (see lineage.py).

All eight public stages (extract_pages, serialize_pages, nodes_of,
tokens_of, bookmarks_of, tables_of, metadata_of, jsonld_of) are short
projections of ONE guarded loop, _parse_stage: it owns the per-doc byte
cap, the `content_type` charset seed, per-doc failure isolation and the
id-column handling, so every family decodes and clips a page the same way.

DTD tables are loaded once per executor process from the packaged dtd.json
(module-level cache in closure_html_spark.dtd) -- the broadcast-variable
equivalent for static build artifacts shipped via --py-files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dtd import PCDATA, load_dtd
from ..extract import (
    extract_main_content,
    jsonld_of_doc,
    metadata_of_doc,
    tables_of_doc,
)
from ..parser.charset import decode_html
from ..parser.pda import parse_html, sgml_parse
from ..parser.tokenizer import Tokenizer
from ..serialize import serialize_doc

# result columns in declaration order; a `columns=` subset of these keys
# lets metadata-only consumers skip building AND transferring the text
# payload (the dominant stage cost -- SCALE.md frontier #1)
RESULT_COL_DDL = {
    "title": "string",
    "extracted_text": "string",
    "spans": "array<struct<start:int,end:int,score:double,keep:boolean>>",
    "links": "array<string>",
    "anchors": "array<string>",
    "base": "string",
    "n_nodes": "int",
    "n_warns": "int",
    "warn_levels": "array<int>",
    "charset": "string",
}

# links/base need their own full-DOM walk (the span scorer's walk starts at
# BODY and cannot see HEAD, where BASE lives), so only consumers that ask
# for them pay for it: columns=None builds the text/metadata set and a
# frontier consumer passes columns=("links", "base")
_DEFAULT_COLS = tuple(k for k in RESULT_COL_DDL
                      if k not in ("links", "anchors", "base"))


def _doc_links_base(doc, want_anchors: bool = True) \
        -> tuple[list[str], list[str], str | None]:
    """One full-DOM (pre)order walk collecting the crawl-frontier
    outlink feed (HREF values of <A> nodes in document order), the
    anchor text of each link (concatenated pcdata of the A subtree --
    the classic inbound-anchor relevance signal), and the document base
    URL (first BASE node's HREF -- the reference's own test fixture pins
    a BASE node in HEAD, test.lisp:5-18).  anchors[i] belongs to
    links[i]; an A whose subtree has no pcdata yields ''.

    ONE pass, O(nodes) (round-6 verdict #5: the per-A subtree re-walk
    was O(nodes x A-density) -- on a link-farm page with 1000 A nodes
    the old form re-visited every anchor subtree twice): the pre-order
    walk carries the depth, so an open A's pcdata is collected until
    the walk pops back to the A's depth.  The DTD forbids A inside A
    (and the PDA repairs soup to match), so at most one A scope is ever
    open; a defensive close keeps the pairing correct even if a foreign
    Doc carried nested As.  Anchor collection only runs when the caller
    asked for it -- the streaming frontier's links/base projection must
    not pay it."""
    out = []
    anchors = []
    base = None
    name = doc.name
    attrs = doc.attrs
    text = doc.text
    a_depth = -1        # depth of the currently open A scope (-1: none)
    buf: list | None = None
    for n, d in doc.walk():
        if a_depth >= 0 and d <= a_depth:
            anchors.append("".join(buf))
            a_depth, buf = -1, None
        nm = name[n]
        if nm == "A":
            for k, v in (attrs[n] or ()):
                if k == "HREF" and v is not None:
                    out.append(v)
                    if want_anchors:
                        a_depth, buf = d, []
                    break
        elif nm == "BASE" and base is None:
            for k, v in (attrs[n] or ()):
                if k == "HREF" and v is not None:
                    base = v
                    break
        elif buf is not None and (t := text[n]) is not None:
            buf.append(t)
    if a_depth >= 0:
        anchors.append("".join(buf))
    return out, anchors, base


# main_text reassembled JVM-side from kept spans: the text bytes cross the
# Python->Arrow boundary once (extracted_text), not twice
_MAIN_TEXT_EXPR = (
    "aggregate(filter(spans, s -> s.keep), '', "
    "(acc, s) -> acc || substr(extracted_text, s.start + 1, s.end - s.start))"
)

MAX_DOC_BYTES_DEFAULT = 64 * 1024 * 1024  # 64 MiB


def _parse_stage(df: DataFrame, id_cols: tuple[str, ...], out_ddl: str,
                 doc_fn, error_row=None, *,
                 dtd_name: str = "html-4.0-frameset",
                 max_doc_bytes: int | None = MAX_DOC_BYTES_DEFAULT,
                 out_batch_rows: int | None = None) -> DataFrame:
    """The one decode -> parse -> isolate loop behind every parse stage.

    Each input row's html bytes are cut to `max_doc_bytes` (None disables
    the cap), decoded with the row's `content_type` charset parameter as
    the seed when the input has that column (a <meta> charset still
    overrides it, mirroring the reference's mid-stream decoder switch --
    charset.py), and handed to `doc_fn(dtd, text, charset, oversize)`,
    which parses (or only tokenizes) and returns the page's output.  The
    session's Arrow batch caps bound the BATCH, but one pathological page
    -- a 500 MB binary mislabeled text/html -- is still one row inside it,
    and parse output is proportional to input, so the cap is what keeps a
    single such row from blowing a worker's memory.

    Two output shapes:
    - one row per page (`error_row` given): doc_fn returns the page's
      value; a page whose decode or doc_fn raises gets `error_row(exc)`
      instead, so ingest accounting stays 1:1, and the id columns pass
      through zero-copy from the input batch;
    - any number of rows per page (`error_row` None): doc_fn returns a
      list of row values, a failing page contributes zero rows, and the
      id columns are replicated by a C++-side take() gather.
    doc_fn's whole result is staged before it is appended, so a failure
    can never leave the output columns at different lengths.

    Values are tuples in `out_ddl` order.  Each result column is built by
    one pa.array() call against its schema type, so nested values (lists
    of span tuples, attr dicts) go to Arrow's C++ converter, which writes
    the flat child buffers directly -- no per-span Python objects beyond
    the tuples the parser already made.  out_batch_rows coalesces OUTPUT
    batches to at least that many rows before yielding -- fewer, larger
    Arrow IPC messages to the JVM, at the cost of buffering the output
    columns (SCALE.md frontier #2 lever)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # id columns in the order the input declares them, then the results
    ids = [n for n, _ in df.dtypes if n in id_cols]
    id_ddl = ", ".join(f"{n} {t}" for n, t in df.dtypes if n in id_cols)
    schema = ", ".join(s for s in (id_ddl, out_ddl) if s)
    # resolved on the driver (needs the JVM DDL parser); captured by fn
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    out_types = [f.type for f in arrow_schema][len(ids):]
    has_ct = "content_type" in df.columns
    one_row = error_row is not None

    def per_batch(batches):
        dtd = load_dtd(dtd_name)
        for batch in batches:
            htmls = batch.column("html").to_pylist()
            cts = (batch.column("content_type").to_pylist() if has_ct
                   else [None] * len(htmls))
            values, take = [], []
            for idx, (raw, ct) in enumerate(zip(htmls, cts)):
                try:
                    raw = bytes(raw)
                    oversize = (max_doc_bytes is not None
                                and len(raw) > max_doc_bytes)
                    if oversize:
                        raw = raw[:max_doc_bytes]
                    text, cs = decode_html(raw, content_type=ct)
                    got = doc_fn(dtd, text, cs, oversize)
                except Exception as exc:  # never kill the batch for one doc
                    if one_row:
                        values.append(error_row(exc))
                    continue
                if one_row:
                    values.append(got)
                else:
                    values.extend(got)
                    take.extend([idx] * len(got))
            if one_row:
                id_arrays = [batch.column(c) for c in ids]  # zero-copy
            else:
                gather = pa.array(take, pa.int32())
                id_arrays = [batch.column(c).take(gather) for c in ids]
            cols = list(zip(*values)) if values else [()] * len(out_types)
            out = pa.RecordBatch.from_arrays(
                id_arrays + [pa.array(c, t) for c, t in zip(cols, out_types)],
                names=arrow_schema.names)
            # nested field names differ only cosmetically (item vs
            # element); cast is metadata-level, buffers are shared
            yield out.cast(arrow_schema, safe=False)

    if out_batch_rows is None:
        fn = per_batch
    else:
        def fn(batches):
            def combine(bufs):
                if len(bufs) == 1:
                    return bufs[0]
                merged = pa.Table.from_batches(bufs).combine_chunks() \
                    .to_batches()
                assert len(merged) == 1
                return merged[0]

            buf, rows = [], 0
            for b in per_batch(batches):
                buf.append(b)
                rows += b.num_rows
                if rows >= out_batch_rows:
                    yield combine(buf)
                    buf, rows = [], 0
            if buf:
                yield combine(buf)

    in_cols = ids + ["html"] + (["content_type"] if has_ct else [])
    return df.select(*in_cols).mapInArrow(fn, schema)


def extract_pages(df: DataFrame, id_cols: tuple[str, ...] = ("url",),
                  columns: tuple[str, ...] | None = None,
                  out_batch_rows: int | None = None,
                  max_doc_bytes: int | None = MAX_DOC_BYTES_DEFAULT
                  ) -> DataFrame:
    """Parse + extract every page.  Keeps `id_cols` as passthrough keys.

    max_doc_bytes: per-document byte cap (default 64 MiB, None disables;
    see _parse_stage).  Oversize pages are truncated to the cap and
    parsed normally (the reference's own buffered xstream reads never
    require whole-document lookahead), with the row marked
    charset='error:oversize' and one level-5 parse warning counted --
    monitoring queries see exactly how many docs were clipped.  A page
    that fails outright yields charset='error:<Type>' with n_warns=-1.

    Output columns are assembled directly as pyarrow arrays: strings go
    Python->Arrow once, spans/warn_levels/links are converted straight
    from the parser's per-doc lists of tuples (no per-span dict objects),
    and id columns pass through zero-copy from the input batch.

    columns: optional subset of RESULT_COL_DDL keys -- the metadata-now /
    text-lazily split.  Column pruning cannot reach inside a Python map
    stage, so a monitoring query selecting only warn_levels would still
    pay the full text build + Arrow transfer; passing
    columns=("warn_levels",) skips building the text payload entirely
    (and skips the span scorer when no text column is requested).
    main_text is only attached when extracted_text AND spans are present.
    columns=None builds _DEFAULT_COLS, which EXCLUDES links/base: they
    need a second full-DOM walk (the span scorer's walk starts at BODY and
    cannot see HEAD, where BASE lives), so only frontier consumers passing
    columns=("links", "base") pay it.

    out_batch_rows: coalesce output batches to at least this many rows
    (see _parse_stage; input batch sizing is capped by session.py's
    row+byte bounds and is not affected)."""
    if columns is None:
        wanted = _DEFAULT_COLS
    else:
        unknown = set(columns) - set(RESULT_COL_DDL)
        if unknown:
            raise ValueError(f"unknown result columns: {sorted(unknown)}")
        wanted = tuple(k for k in RESULT_COL_DDL if k in columns)
    # the span scorer only runs when some text-derived column is requested
    need_extract = bool({"title", "extracted_text", "spans"} & set(wanted))
    need_links = bool({"links", "anchors", "base"} & set(wanted))
    need_anchors = "anchors" in wanted

    def doc_fn(dtd, text, cs, oversize):
        doc = parse_html(dtd, text)
        if need_extract:
            res = extract_main_content(doc, dtd, with_main_text=False)
            title_v, text_v, spans_v = \
                res["title"], res["extracted_text"], res["spans"]
        else:
            title_v, text_v, spans_v = "", "", ()
        if need_links:
            links_v, anchors_v, base_v = _doc_links_base(
                doc, want_anchors=need_anchors)
        else:
            links_v, anchors_v, base_v = (), (), None
        nn, nw = len(doc.name), len(doc.warnings)
        lv = (0, 0, 0, 0, 0)
        if nw or oversize:
            # parse-warn levels 1-5 (sgml-parse.lisp:285-292) as per-doc
            # counters -> aggregable corpus metrics
            lv = [0, 0, 0, 0, 0]
            for level, _ in doc.warnings:
                if 1 <= level <= 5:
                    lv[level - 1] += 1
        if oversize:
            cs = "error:oversize"
            lv[4] += 1
            nw += 1
        row = dict(title=title_v, extracted_text=text_v, spans=spans_v,
                   links=links_v, anchors=anchors_v, base=base_v,
                   n_nodes=nn, n_warns=nw, warn_levels=lv, charset=cs)
        return tuple(row[k] for k in wanted)

    def error_row(exc):
        row = dict(title="", extracted_text="", spans=(), links=(),
                   anchors=(), base=None, n_nodes=0, n_warns=-1,
                   warn_levels=(0, 0, 0, 0, 0),
                   charset=f"error:{type(exc).__name__}")
        return tuple(row[k] for k in wanted)

    result = _parse_stage(
        df, id_cols, ", ".join(f"{k} {RESULT_COL_DDL[k]}" for k in wanted),
        doc_fn, error_row, max_doc_bytes=max_doc_bytes,
        out_batch_rows=out_batch_rows)
    if "extracted_text" in wanted and "spans" in wanted:
        result = result.withColumn("main_text", F.expr(_MAIN_TEXT_EXPR))
    return result


def serialize_pages(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
                    ) -> DataFrame:
    """Parse + re-serialize every page to canonical escaped HTML
    (the reference's clean-html round trip, doc/examples.xml:60-77).
    html_out is the largest string column in the system (~1x input), so
    it goes Python->Arrow exactly once; a failed page yields ""."""
    return _parse_stage(
        df, id_cols, "html_out string",
        lambda dtd, text, cs, oversize:
            (serialize_doc(parse_html(dtd, text), dtd),),
        lambda exc: ("",))


def _node_rows(dtd, text, cs, oversize):
    doc = parse_html(dtd, text)
    # renumber pre-order from the post-mortem root
    remap = {}
    for n, d in doc.walk():
        remap[n] = len(remap)
    # the dict round-trip dedups repeated attr names (last wins) --
    # Spark's map-key uniqueness requirement
    return [(remap[n], remap.get(doc.parent[n], -1), d, doc.name[n],
             dict(doc.attrs[n]) if doc.attrs[n] else {}, doc.text[n])
            for n, d in doc.walk()]


def nodes_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
             ) -> DataFrame:
    """Exploded `nodes` table: one row per DOM node -- the relational query
    surface over parsed documents (SURVEY.md §2.8 / FIXTURES.md §2).
    Node ids are the pre-order rank from the post-mortem root (the root's
    parent_id is -1); attrs is a map (repeated names: last wins); an
    unparseable page contributes zero rows."""
    return _parse_stage(
        df, id_cols, "node_id int, parent_id int, depth int, name string, "
        "attrs map<string,string>, text string", _node_rows)


def _token_rows(dtd, text, cs, oversize):
    rows = []
    for pos, tok in enumerate(Tokenizer(text, dtd.entities).tokens()):
        kind = tok[0]
        if kind in ("start", "empty"):
            # dict round-trip dedups repeated attr names (last wins);
            # a bare attribute maps to ""
            ad = {(a[0] if isinstance(a, tuple) else a):
                  (a[1] if isinstance(a, tuple) else "") for a in tok[2]}
            rows.append((pos, kind, tok[1], ad, None))
        elif kind == "end":
            rows.append((pos, kind, tok[1], {}, None))
        elif kind == "eof":
            rows.append((pos, kind, None, {}, None))
        else:  # pcdata/comment/define/pi
            rows.append((pos, kind, None, {}, tok[1]))
    return rows


def tokens_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
              ) -> DataFrame:
    """Exploded `tokens` table (FIXTURES.md §2): the raw lexer output, one
    row per token -- the debugging/inspection surface for the tokenizer.
    Attribute names are pre-normalization (as written)."""
    return _parse_stage(
        df, id_cols, "pos int, kind string, name string, "
        "attrs map<string,string>, text string", _token_rows)


def _bookmark_rows(dtd, text, cs, oversize):
    doc = sgml_parse(dtd, text)

    def text_of(n):
        return "".join(doc.text[c] or "" for c in doc.children[n]
                       if doc.name[c] == PCDATA)

    # folder = concatenated H3 headings on the DL ancestor path
    rows = []
    stack = [(doc.root, "")]
    while stack:
        n, folder = stack.pop()
        nm = doc.name[n]
        if nm == "A":
            href = next((v for k, v in (doc.attrs[n] or ()) if k == "HREF"),
                        None)
            rows.append((folder, text_of(n), href))
            continue
        if nm == "DT":
            h3 = next((c for c in doc.children[n] if doc.name[c] == "H3"), -1)
            if h3 >= 0:
                folder = (folder + "/" + text_of(h3)).lstrip("/")
        for c in reversed(doc.children[n]):
            stack.append((c, folder))
    return rows


def bookmarks_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
                 ) -> DataFrame:
    """Parse NETSCAPE-Bookmark-file-1 payloads (the reference's second
    catalog DTD) into (folder_path, link_title, href) rows -- demonstrates
    the multi-DTD parse surface (`sgml-parse dtd input`)."""
    return _parse_stage(
        df, id_cols, "folder string, link_title string, href string",
        _bookmark_rows, dtd_name="netscape-bookmark")


# --- structured extraction stages (round 7) ----------------------------------

def tables_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
              ) -> DataFrame:
    """Exploded `cells` table: one row per TD/TH of every <table> in the
    repaired DOM -- (table_idx, row_idx, col_idx, tag, cell); a malformed
    document contributes zero rows rather than killing the batch."""
    return _parse_stage(
        df, id_cols, "table_idx int, row_idx int, col_idx int, tag string, "
        "cell string",
        lambda dtd, text, cs, oversize: tables_of_doc(parse_html(dtd, text)))


_META_FIELDS = ("title", "description", "og_title", "canonical", "h1")


def metadata_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
                ) -> DataFrame:
    """Per-page head metadata (title / meta description / og:title /
    canonical link / first h1): exactly one output row per input page
    (a malformed document yields the all-'' row, so ingest accounting
    stays 1:1)."""
    def doc_fn(dtd, text, cs, oversize):
        md = metadata_of_doc(parse_html(dtd, text))
        return tuple(md[f] for f in _META_FIELDS)

    return _parse_stage(
        df, id_cols, ", ".join(f"{f} string" for f in _META_FIELDS),
        doc_fn, lambda exc: ("",) * len(_META_FIELDS))


def jsonld_of(df: DataFrame, id_cols: tuple[str, ...] = ("url",)
              ) -> DataFrame:
    """One row per <script type=application/ld+json> block: (ld_idx,
    json) with the payload verbatim.  Schema-aware parsing stays JVM-side
    -- compose with F.from_json, never a Python json.loads stage."""
    return _parse_stage(
        df, id_cols, "ld_idx int, json string",
        lambda dtd, text, cs, oversize:
            list(enumerate(jsonld_of_doc(parse_html(dtd, text)))))
