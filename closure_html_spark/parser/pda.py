"""DTD-driven PDA parser producing an array-encoded DOM.

Reimplements the reference parse loop and repair machinery:
  - sgml-parse main loop (2-token lookahead)  sgml-parse.lisp:1025-1106
  - transition rules (priority order)          :1111-1172
  - empty-element-p                            :1108-1109
  - white-space-token-p                        :1180-1183
  - tag-as-marker-p INCLUDING its bug          :1174-1178 (two `and` forms,
    only the last returned; with defaults *font-heuristic-p*=t and
    *anchor-heuristic-p*=nil the predicate is always nil, so FONT flows
    through the normal PDA + heuristic rules -- we replicate that and omit
    the HTAG machinery entirely)
  - heuristic repair rules (exact order)       :1213-1315
  - post-mortem/fix-top-level-structure        :1333-1396

The DOM is array-encoded (north-star requirement): parallel Python lists
name/attrs/text/parent plus per-node child index lists, built append-only
inside the vectorized UDF -- no per-node objects.
"""

from __future__ import annotations

from ..dtd import Dtd, PRESERVES_COMMENTS
from .normalize import (
    PCDATA,
    TOP,
    build_end_hit,
    build_start_hit,
    mungle_attlist,
    normalized_tokens,
)
from .tokenizer import (
    _FAST_END_TAG,
    _FAST_START_TAG,
    _SPECIAL,
    Tokenizer,
    decode_pcdata_fast,
)

_DONE = object()       # production sentinel: input exhausted
_EOF_TOK = ("E", TOP)  # read-token* :eof (sgml-parse.lisp:956-957)


class Doc:
    """Array-encoded DOM for one document."""

    __slots__ = ("name", "attrs", "text", "parent", "children", "root",
                 "warnings")

    def __init__(self):
        self.name: list[str] = []
        self.attrs: list = []       # list[(name, value)] or None
        self.text: list = []        # str for pcdata nodes, else None
        self.parent: list[int] = []
        self.children: list[list[int]] = []
        self.root = 0
        self.warnings: list[tuple[int, str]] = []

    def add(self, name, attrs, text, parent) -> int:
        nid = len(self.name)
        self.name.append(name)
        self.attrs.append(attrs)
        self.text.append(text)
        self.parent.append(parent)
        self.children.append([])
        if parent >= 0:
            self.children[parent].append(nid)
        return nid

    def walk(self, nid=None):
        """Pre-order iterator of (node_id, depth)."""
        if nid is None:
            nid = self.root
        stack = [(nid, 0)]
        children = self.children
        while stack:
            n, d = stack.pop()
            yield n, d
            stack.extend((c, d + 1) for c in reversed(children[n]))


def _etag(name):
    return ("E", name)


def _stag(name, atts=None):
    return ("S", name, atts if atts is not None else [])


_MAX_STEPS_SLACK = 10000


# ---------------------------------------------------------------------------
# Fused action tables: one dict hit replaces the transition's chain of
# include/empty/resolve lookups (sgml-parse.lisp:1111-1172, same priority
# order, precomputed per context).  Action encodings:
#   ("P",)        legal #PCDATA           -> text leaf
#   ("L",)        legal empty element     -> element leaf
#   ("O",)        legal container element -> open (push)
#   ("X",)        end tag matching ctx    -> close (pop)
#   ("R", tok)    resolve hit             -> insert synthesized tok, retry
#   ("W", fb)     illegal #PCDATA         -> ignore iff all-whitespace,
#                                            else fall back to fb (R or H)
#   ("H",)        no rule                 -> heuristic repair
_ACT_H = ("H",)
_ACT_O = ("O",)
_ACT_L = ("L",)
_ACT_P = ("P",)
_ACT_X = ("X",)


def _build_ctx_actions(dtd: Dtd, ctx: str):
    """(smap, emap) for one context element, covering every token name."""
    inc = dtd.roots if ctx == TOP else dtd.include[ctx]
    empty = dtd.empty
    resolve = dtd.resolve
    names = set(dtd.element_names)
    names.add(PCDATA)
    smap = {}
    emap = {}
    for nm in names:
        if nm in inc:
            if nm == PCDATA:
                smap[nm] = _ACT_P
            elif nm in empty:
                smap[nm] = _ACT_L
            else:
                smap[nm] = _ACT_O
        else:
            x = resolve.get((ctx, "S", nm))
            act = (("R", _stag(x[1]) if x[0] == "S" else _etag(x[1]))
                   if x is not None else _ACT_H)
            smap[nm] = ("W", act) if nm == PCDATA else act
    names.add(TOP)
    for nm in names:
        if nm == ctx:
            emap[nm] = _ACT_X
        else:
            x = resolve.get((ctx, "E", nm))
            emap[nm] = (("R", _stag(x[1]) if x[0] == "S" else _etag(x[1]))
                        if x is not None else _ACT_H)
    return smap, emap


_EMPTY_MAP: dict = {}


def sgml_parse(dtd: Dtd, text: str) -> Doc:
    """Parse decoded text into a Doc rooted at a synthetic top node.

    The parser's one fast path: a fused single loop of tokenize +
    normalize + PDA.  Tokens are produced on demand (no intermediate token
    list); well-formed tags match one fast regex and come out of the
    per-DTD whole-tag memo (dtd.tag_cache, capped at 65,536 entries),
    unusual syntax drops into the exact char machine one token at a time,
    and transitions are one dict hit in per-context action tables.  The
    differential fuzz (tests/test_tokenizer_fuzz.py) pins it
    serialization- and warning-identical to _sgml_parse_ref."""
    tk = Tokenizer(text, dtd.entities)
    src = text
    n = len(src)
    i = 0
    # Whole-tag memo: tag vocab repeats heavily across a corpus, and the
    # cap keeps unique-attribute floods (hrefs) from growing it without
    # bound.  Memoized tokens and attr lists are shared: never mutate them.
    cache = dtd.tag_cache
    cache_get = cache.get
    pcache = dtd.pcdata_cache
    pcache_get = pcache.get
    valid = dtd.valid_tags
    attlist = dtd.attlist
    warn = tk.warn
    warns_extend = tk.warnings.extend
    end_match = _FAST_END_TAG.match
    start_match = _FAST_START_TAG.match
    special_search = _SPECIAL.search
    eof_sent = False

    def _slow_token():
        """One raw token via the exact char machine, normalized.
        Returns the normalized token or None (dropped)."""
        nonlocal i
        tk.i = i
        tok = tk.read_token()
        i = tk.i
        k0 = tok[0]
        if k0 == "pcdata":
            return ("S", PCDATA, tok[1])
        if k0 == "comment":
            return ("C", tok[1])
        if k0 == "start" or k0 == "empty":
            if k0 == "empty":
                warn(2, "Oops -- there is an empty tag; "
                        "but this is only HTML?!")
            nm = tok[1]
            if nm in valid:
                return ("S", nm, mungle_attlist(dtd, nm, tok[2], warn))
            warn(4, f"There is no such thing as <{nm}> -- ignored.")
        elif k0 == "end":
            nm = tok[1]
            if nm in valid:
                return ("E", nm)
            warn(4, f"There is no such thing as </{nm}> -- ignored.")
        elif k0 == "pi":
            warn(2, f"Ignoreing processing instruction tag: '{tok[1]}'")
        # define tags dropped; eof cannot occur here (callers check i < n)
        return None

    doc = Doc()
    root = doc.add("%root", None, None, -1)
    s = root

    d_name = doc.name
    d_attrs = doc.attrs
    d_text = doc.text
    d_parent = doc.parent
    d_children = doc.children

    stack = [_stag(TOP)]   # open-element tokens (heuristic context)
    # parent-context action maps, restored on close without a dict lookup;
    # the sentinel pair plays the empty-stack role
    mstack = [(_EMPTY_MAP, _EMPTY_MAP)]
    pending: list = []     # LIFO of synthesized / pushed-back tokens
    actions = dtd.pda_actions
    pair = actions.get(TOP)
    if pair is None:
        pair = actions[TOP] = _build_ctx_actions(dtd, TOP)
    smap, emap = pair
    nn = 1  # next node id (root is 0)

    # Consuming transitions are bounded by the input; only the inserting
    # ones (resolve / heuristic) can loop, so only they pay the budget.
    budget = 10 * n + _MAX_STEPS_SLACK

    while True:
        # ---- next token (fused tokenizer) --------------------------------
        if pending:
            see = pending.pop()
        else:
            see = None
            while see is None:
                if i >= n:
                    if eof_sent:
                        see = _DONE
                        break
                    eof_sent = True
                    see = _EOF_TOK
                    break
                c = src[i]
                if c == "<":
                    j = i + 1
                    if j < n and src[j] == "/":
                        m = end_match(src, j)
                        if m is not None:
                            i = m.end()
                            hit = cache_get(m.group(0))
                            if hit is None:
                                hit = build_end_hit(dtd, m)
                                if len(cache) < 65536:
                                    cache[m.group(0)] = hit
                            see, ws = hit
                            if ws:
                                warns_extend(ws)
                            continue
                    else:
                        m = start_match(src, j)
                        if m is not None:
                            i = m.end()
                            hit = cache_get(m.group(0))
                            if hit is None:
                                hit = build_start_hit(dtd, m)
                                if len(cache) < 65536:
                                    cache[m.group(0)] = hit
                            see, ws = hit
                            if ws:
                                warns_extend(ws)
                            continue
                    see = _slow_token()
                else:
                    m = special_search(src, i)
                    if m is None:
                        see = ("S", PCDATA, src[i:])
                        i = n
                    elif src[m.start()] == "<":
                        j = m.start()  # j > i strictly (src[i] != '<')
                        see = ("S", PCDATA, src[i:j])
                        i = j
                    else:
                        # entity present: the gap ends at the next '<'
                        # (read-pcdata stops only there); short gaps repeat
                        # across a corpus (' &amp; ', '&nbsp;' runs), so
                        # memoize decoded token + warns per raw gap
                        lt = src.find("<", i)
                        end = n if lt < 0 else lt
                        raw = src[i:end]
                        hit = pcache_get(raw)
                        if hit is not None:
                            see, ws = hit
                            if ws:
                                warns_extend(ws)
                            i = end
                        else:
                            # inline decode of the warning-free common
                            # forms; the exact char machine handles the
                            # rest (unknown names, no ';', overflow, EOF)
                            dec = decode_pcdata_fast(raw, tk.entities)
                            if dec is not None:
                                see = ("S", PCDATA, dec)
                                i = end
                                if len(raw) <= 256 and len(pcache) < 16384:
                                    pcache[raw] = (see, ())
                            else:
                                w0 = len(tk.warnings)
                                tk.i = i
                                tok = tk.read_pcdata()
                                i = tk.i
                                see = ("S", PCDATA, tok[1])
                                # gaps ending in an INCOMPLETE reference
                                # ('&', '&#', '&#x') warn differently at
                                # EOF vs before '<' (read-entity-ref's EOF
                                # branches), so their decode is not a pure
                                # function of the raw gap -- never memoize
                                if (len(raw) <= 256 and len(pcache) < 16384
                                        and raw[-1] != "&"
                                        and not raw.endswith("&#")
                                        and not raw.endswith("&#x")):
                                    pcache[raw] = (
                                        see, tuple(tk.warnings[w0:]))
            if see is _DONE:
                break
        kind = see[0]
        if kind == "S":
            act = smap.get(see[1])
        elif kind == "E":
            act = emap.get(see[1])
        else:  # comment
            if stack and stack[-1][1] in PRESERVES_COMMENTS:
                d_name.append(PCDATA)
                d_attrs.append(None)
                d_text.append(see[1])
                d_parent.append(s)
                d_children.append([])
                d_children[s].append(nn)
                nn += 1
            continue
        if act is None:
            # only possible with an empty stack (maps swapped to _EMPTY_MAP)
            tk.warn(5, f"Oops empty stack in TRANSITION on {see!r}.")
            break
        a = act[0]
        if a == "P":  # pcdata leaf
            d_name.append(PCDATA)
            d_attrs.append(None)
            d_text.append(see[2])
            d_parent.append(s)
            d_children.append([])
            d_children[s].append(nn)
            nn += 1
            continue
        if a == "O":  # open container
            d_name.append(see[1])
            d_attrs.append(see[2])
            d_text.append(None)
            d_parent.append(s)
            d_children.append([])
            d_children[s].append(nn)
            stack.append(see)
            mstack.append(pair)
            pair = actions.get(see[1])
            if pair is None:
                pair = actions[see[1]] = _build_ctx_actions(dtd, see[1])
            smap, emap = pair
            s = nn
            nn += 1
            continue
        if a == "X":  # close
            stack.pop()
            s = d_parent[s]
            pair = mstack.pop()
            smap, emap = pair
            continue
        if a == "L":  # empty element leaf
            d_name.append(see[1])
            d_attrs.append(see[2])
            d_text.append(None)
            d_parent.append(s)
            d_children.append([])
            d_children[s].append(nn)
            nn += 1
            continue
        if a == "R":  # resolve: insert synthesized token before see
            budget -= 1
            if budget < 0:
                tk.warn(5, "parser step budget exceeded -- document truncated")
                break
            pending.append(see)
            pending.append(act[1])
            continue
        if a == "W":  # illegal pcdata: ignorable whitespace (:1157-1161)
            if see[2].strip(" \t\n\r\x0c") == "":
                continue
            fb = act[1]
            if fb[0] == "R":
                budget -= 1
                if budget < 0:
                    tk.warn(5,
                            "parser step budget exceeded -- document truncated")
                    break
                pending.append(see)
                pending.append(fb[1])
                continue
            # fall through to heuristic
        # ---- heuristic repair (rare) -------------------------------------
        budget -= 1
        if budget < 0:
            tk.warn(5, "parser step budget exceeded -- document truncated")
            break
        if pending:
            nxt = pending.pop()
        else:
            # pull one lookahead token via the exact machine (rare path)
            nxt = None
            while nxt is None:
                if i >= n:
                    if not eof_sent:
                        eof_sent = True
                        nxt = _EOF_TOK
                    break
                nxt = _slow_token()
        ein = [see] if nxt is None else [see, nxt]
        new_ein = _heuristic(dtd, tk, stack[-1], ein)
        for t in reversed(new_ein):
            pending.append(t)

    doc.warnings = tk.warnings
    doc.root = root
    return doc


def _sgml_parse_ref(dtd: Dtd, text: str, tokenizer: Tokenizer) -> Doc:
    """Direct transcription of the reference main loop (sgml-parse.lisp:
    1025-1106) over normalized_tokens of the exact char machine; the only
    reference twin of sgml_parse, run by the differential tests."""
    toks = list(normalized_tokens(tokenizer, dtd))
    tk = tokenizer
    n_toks = len(toks)
    ti = 0

    doc = Doc()
    root = doc.add("%root", None, None, -1)
    s = root

    # local bindings for the hot loop (doc.add inlined below)
    d_name = doc.name
    d_attrs = doc.attrs
    d_text = doc.text
    d_parent = doc.parent
    d_children = doc.children

    stack = [_stag(TOP)]
    ein: list = []
    include_map = dtd.include
    roots = dtd.roots
    empty = dtd.empty
    resolve = dtd.resolve

    # runaway guard: transitions that never consume input are bounded
    budget = 10 * len(text) + _MAX_STEPS_SLACK

    while True:
        budget -= 1
        if budget < 0:
            tk.warn(5, "parser step budget exceeded -- document truncated")
            break
        while len(ein) < 2 and ti < n_toks:
            ein.append(toks[ti])
            ti += 1

        # ---- transition (sgml-parse.lisp:1111-1172), applied inline ----
        top = stack[-1] if stack else None
        if top is not None and top[1] == PCDATA:
            stack.pop()
            s = d_parent[s]
            continue
        if not ein:
            break  # accept (stack empty) or error; either way we are done
        see = ein[0]
        kind = see[0]
        if kind == "C":
            del ein[0]
            if top is not None and top[1] in PRESERVES_COMMENTS:
                nid = len(d_name)
                d_name.append(PCDATA)
                d_attrs.append(None)
                d_text.append(see[1])
                d_parent.append(s)
                d_children.append([])
                d_children[s].append(nid)
            continue
        if kind == "E" and top is not None and top[1] == see[1]:
            stack.pop()
            del ein[0]
            s = d_parent[s]
            continue
        top_inc = None
        if top is not None:
            tn = top[1]
            top_inc = roots if tn == TOP else include_map[tn]
        if kind == "S" and top is not None and see[1] in top_inc:
            del ein[0]
            nid = len(d_name)
            if see[1] in empty:
                if see[1] == PCDATA:
                    d_name.append(PCDATA)
                    d_attrs.append(None)
                    d_text.append(see[2])
                else:
                    d_name.append(see[1])
                    d_attrs.append(see[2])
                    d_text.append(None)
                d_parent.append(s)
                d_children.append([])
                d_children[s].append(nid)
            else:
                stack.append(see)
                d_name.append(see[1])
                d_attrs.append(see[2])
                d_text.append(None)
                d_parent.append(s)
                d_children.append([])
                d_children[s].append(nid)
                s = nid
            continue
        if (kind == "S" and see[1] == PCDATA and top is not None
                and see[2].strip(" \t\n\r\x0c") == ""
                and PCDATA not in top_inc):
            del ein[0]  # ignorable whitespace (:1157-1161)
            continue
        if not stack:
            tk.warn(5, f"Oops empty stack in TRANSITION on {see!r}.")
            break
        x = resolve.get((top[1], kind, see[1]))
        if x is not None:
            ein.insert(0, _stag(x[1]) if x[0] == "S" else _etag(x[1]))
            continue
        ein = _heuristic(dtd, tk, top, ein)

    doc.warnings = tk.warnings
    doc.root = root
    return doc


def _heuristic(dtd: Dtd, tk: Tokenizer, context, ein: list) -> list:
    """Inline repair rules (sgml-parse.lisp:1213-1315), exact order."""
    see = ein[0]
    ctx_name = context[1]
    eqv = dtd.eqv_eq

    def is_(tag: str) -> bool:
        # `is` in the reference: context matches `state` via elms-eqv and
        # the token matches `tag` via elms-eqv; "/NAME" means end tag.
        if tag.startswith("/"):
            return see[0] == "E" and eqv(see[1], tag[1:])
        return see[0] == "S" and eqv(see[1], tag)

    def in_(state: str) -> bool:
        return eqv(state, ctx_name)

    close_ctx = [_etag(ctx_name)] + ein
    close_reopen = [_etag(ctx_name), see, context] + ein[1:]

    if "HTML" in dtd.roots:
        if see[0] == "E" and see[1] == TOP:
            return close_ctx
        if see[0] == "S" and see[1] == "STYLE":
            return [_stag("SPAN", [("CLASS", "illegalstyle")])] + ein[1:]
        if in_("H1") and is_("CENTER"):
            return close_reopen
        if in_("FONT") and (is_("CENTER") or is_("P")):
            return close_reopen
        if in_("I") and is_("HR"):
            return close_reopen
        if eqv(ctx_name, "FONT"):
            return close_ctx
        if in_("CENTER") and is_("TR"):
            return close_ctx
        if in_("H1") and is_("/H2"):
            return close_ctx
        if in_("H1") and is_("UL"):
            return close_ctx
        if in_("H3") and is_("/CENTER"):
            return close_ctx
        if in_("DIV") and is_("/TD"):
            return close_ctx
        if in_("UL") and (is_("P") or is_("A") or is_("IMG") or is_(PCDATA)):
            return [_stag("LI")] + ein
        if in_("TABLE") and is_("TD"):
            return [_stag("TR")] + ein
        if in_("TABLE") and is_(PCDATA):
            return close_reopen
        if in_("NOSCRIPT") and is_("FRAMESET"):
            return close_ctx
        if in_("TABLE") and is_("FORM"):
            return close_reopen
        # INTENTIONAL DEVIATION from sgml-parse.lisp:1290-1294: the
        # reference swaps the first two queue items unconditionally --
        # `(list* (cadr eingabe) (car eingabe) (cddr eingabe))` -- so a
        # 1-token queue splices NIL into the token stream (its own comment
        # concedes "we should better check here wether FORM is open at
        # all").  With only the /FORM queued there is nothing to swap
        # behind; we fall through to the default drop (warn level 4)
        # instead of enqueueing a bogus token.  Pinned both ways by
        # tests/test_parser_golden.py::test_form_in_tbody_queue_depth.
        if in_("TBODY") and is_("/FORM") and len(ein) >= 2:
            return [ein[1], ein[0]] + ein[2:]
        if (in_("LI") or in_("UL")) and (is_("TD") or is_("/TD")):
            return close_ctx
    # default: drop the offending token (document-action :1199-1211)
    tk.warn(4, f"[-] Saw {see[:2]!r} in {ctx_name} -- nuked.")
    return ein[1:]


# ---------------------------------------------------------------------------
# Post-mortem top-level fixup (sgml-parse.lisp:1333-1396)

def post_mortem_fix_top_level(doc: Doc) -> int:
    """Merge multiple HTML/HEAD/BODY into the canonical
    HTML(HEAD(...), BODY(...)|FRAMESET(...)) shape.  Returns new root id."""
    head_elts: list[int] = []
    body_elts: list[int] = []
    frameset_elts: list[int] = []
    body = -1
    frameset = -1

    top_children = doc.children[doc.root]
    if len(top_children) > 1:
        doc.warnings.append((4, "Multiple HTML elements in document."))
    for k in top_children:
        if doc.name[k] != "HTML":
            continue  # grammar guarantees HTML here; tolerate otherwise
        for kk in doc.children[k]:
            nm = doc.name[kk]
            if nm == "HEAD":
                if head_elts:
                    doc.warnings.append((4, "Multiple HEAD elements."))
                head_elts.extend(doc.children[kk])
            elif nm == "BODY":
                body = kk
                if body_elts:
                    doc.warnings.append((4, "Multiple BODY elements."))
                body_elts.extend(doc.children[kk])
            elif nm == "FRAMESET":
                frameset = kk
                frameset_elts.extend(doc.children[kk])

    html = doc.add("HTML", None, None, -1)
    head = doc.add("HEAD", None, None, html)
    doc.children[head] = head_elts
    for k in head_elts:
        doc.parent[k] = head

    if frameset >= 0:
        if body >= 0:
            doc.warnings.append(
                (4, "Body present while FRAMSET is present -- nuked!"))
            body = -1
            body_elts = []
        doc.parent[frameset] = html
        doc.children[frameset] = frameset_elts
        for k in frameset_elts:
            doc.parent[k] = frameset
        doc.children[html].append(frameset)
    else:
        if body >= 0:
            doc.parent[body] = html
            doc.children[body] = body_elts
        else:
            body = doc.add("BODY", None, None, html)
            doc.children[body] = body_elts
        for k in body_elts:
            doc.parent[k] = body
        if body not in doc.children[html]:
            doc.children[html].append(body)

    doc.root = html
    return html


def check_saneness(doc: Doc, dtd: Dtd) -> list[str]:
    """Runnable port of check-saneness (sgml-parse.lisp:1630-1638): walk the
    tree and report (a) children not allowed by the parent's DTD inclusion
    set, (b) broken parent/child linkage.  (The HTAG check is moot: the
    HTAG machinery is unreachable, see module docstring.)  Returns the list
    of complaint strings -- empty on a sane tree."""
    out = []
    name = doc.name
    children = doc.children
    parent = doc.parent
    for nid, _ in doc.walk():
        gi = name[nid]
        inc = dtd.roots if gi == TOP else dtd.include.get(gi)
        for k in children[nid]:
            if inc is not None and name[k] not in inc and name[k] != PCDATA:
                out.append(f"Unallowed {name[k]} element within {gi}.")
            if parent[k] != nid:
                out.append("Parent/child linkage broken.")
    return out


def parse_html(dtd: Dtd, text: str) -> Doc:
    """Full parse: PDA + post-mortem (post-mortem-heuristic order,
    sgml-parse.lisp:1326-1331).  Only fix-top-level runs: the reference's
    fix-font pass has no markers to pair, because the tag-as-marker-p bug
    keeps FONT on the normal PDA + heuristic path (module docstring)."""
    doc = sgml_parse(dtd, text)
    post_mortem_fix_top_level(doc)
    return doc
