"""Differential fuzz: the fused parse loop (pda.sgml_parse, the one fast
path production runs) must agree with its reference twin
(pda._sgml_parse_ref over the exact char machine) on serialization and on
the warning multiset -- so the fast tag regexes accept exactly what the
char machine accepts, and tokenize the same way."""

import random
from collections import Counter

import pytest

from closure_html_spark.dtd import load_dtd
from closure_html_spark.parser.pda import (
    _sgml_parse_ref,
    parse_html,
    post_mortem_fix_top_level,
    sgml_parse,
)
from closure_html_spark.parser.tokenizer import Tokenizer
from closure_html_spark.serialize import serialize_doc

DTD = load_dtd()

ALPHABETS = [
    "<>/=&;'\"abc &#xA d-._:%\n\t![]()",
    "<abc defgh=\"v'& ;\"'>/x ",
    "<a href= = / > \" ' x = 1 & ; !",
    "<>/=&;'\"ap div tble img href src=x &#38; &amp %\n\t![]()",
    # Non-ASCII stressors: Unicode whitespace (NBSP, VT, LS), Unicode
    # digits after '&#' ('²', '٣'), and multibyte letters -- the fast
    # path must reject exactly what the slow machine rejects.
    "<>/=&;'\"a div href=x \xa0\x0b 　 &#² ٣ 1 é漢\n\t",
    # round-5 hunt alphabets (84k-case extended run, 0 diffs): raw-text
    # elements + charset-relevant attrs, and comment/doctype/PI edge soup
    "<script style base meta href= charset=utf-8 > </ ! -- > x & ; \" '",
    "<!-- -- > <! doctype <? proc ?> ]]> <![ x",
    # FONT-heavy soup: FONT flows through the PDA + heuristic rules
    # (close_reopen in FONT, the `p in font` rule), inside tables and lists
    "<>/=&;'\"ap font b i div td tr table ul li size=2 x \n\t",
]


@pytest.mark.parametrize("alphabet_idx", range(len(ALPHABETS)))
def test_fast_tokenizer_token_identical(alphabet_idx):
    """The fused loop's fast tag regexes and inline pcdata decode against
    the exact char machine, per alphabet: same tree, same warnings."""
    random.seed(alphabet_idx)
    chars = ALPHABETS[alphabet_idx]
    for _ in range(1500):
        fx = "".join(random.choice(chars)
                     for _ in range(random.randrange(1, 160)))
        fast = sgml_parse(DTD, fx)
        ref = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities))
        assert serialize_doc(fast, DTD) == serialize_doc(ref, DTD), fx
        assert Counter(fast.warnings) == Counter(ref.warnings), fx


def test_full_parse_serialization_identical():
    random.seed(99)
    chars = ALPHABETS[3]
    for _ in range(1000):
        fx = "".join(random.choice(chars)
                     for _ in range(random.randrange(1, 250)))
        fast = serialize_doc(parse_html(DTD, fx), DTD)
        doc = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities))
        post_mortem_fix_top_level(doc)
        slow = serialize_doc(doc, DTD)
        assert fast == slow, fx


def test_fused_warning_multiset_identical():
    """Entity-heavy differential: fused (memo + inline fast decode) vs the
    reference twin must agree on serialization AND on the warning multiset
    (fused interleaves tokenizer/PDA warnings in stream order, so exact
    order is not pinned -- content and counts are)."""
    random.seed(7)
    frag = ["&amp;", "&lt;", "&bogus;", "&#65;", "&#x41;", "&#999999;",
            "&", "&amp", "<b>", "</b>", "x", " ", "²", "&#x2F;", "&copy",
            ";", "&nb", "<p>", "</p>", "&#", "&#x"]
    for _ in range(3000):
        fx = "".join(random.choices(frag, k=random.randint(1, 30)))
        d1 = sgml_parse(DTD, fx)
        d2 = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities))
        assert serialize_doc(d1, DTD) == serialize_doc(d2, DTD), fx
        assert Counter(d1.warnings) == Counter(d2.warnings), fx


def test_pcdata_memo_not_poisoned_by_context():
    """Regression (round-3 find): a gap ending in an INCOMPLETE entity
    ('&', '&#', '&#x') warns differently before '<' vs at EOF; the round-2
    gap memo keyed on raw text alone replayed the first-seen warning for
    both contexts.  Such gaps must bypass the memo."""
    dtd = load_dtd()
    for mid, eof_warn, mid_warn in [
        ("a&", "EOF in entity", "after '&'"),
        ("a&#", "EOF in entity", "Bad character after '&#'"),
        ("a&#x", "EOF after '&#x'", "after '&#x'"),
    ]:
        # same raw gap, '<' context first, then EOF context (and reversed)
        d1 = sgml_parse(dtd, f"{mid}<b>x")
        d2 = sgml_parse(dtd, mid)
        assert any(mid_warn in m for _, m in d1.warnings), (mid, d1.warnings)
        assert any(eof_warn in m for _, m in d2.warnings), (mid, d2.warnings)
