"""Differential tests: the Catalyst extractor `extract_text` must return
byte-identical text to the reference `extract_text_py` on every input,
including the code points where Python `re` and Java regex disagree
(whitespace classes, word boundaries, case folding, line terminators)
and on malformed UTF-8."""

from __future__ import annotations

import sys
from string import ascii_letters

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgforge.web.extract import extract_text, extract_text_py

_TAGS = ("head", "script", "style", "nav", "header", "footer")
_BREAKS = ("p", "div", "h1", "h6", "li", "tr", "br")
# every code point UTF-8 can carry (surrogates have no encoding)
_ALL = [chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]
# code points whose case mappings reach an ASCII letter (ſ, İ, ı, K, ß, ligatures ...)
_FOLDS = [
    ch for ch in _ALL
    if any(x in ascii_letters for x in ch.lower() + ch.upper() + ch.casefold())
]


def _spark_extract(spark, tmp_path, pages: list, html_type=pa.binary()) -> list:
    """extract_text over `pages`, read back from parquet, in input order."""
    path = str(tmp_path / f"pages_{len(pages)}_{html_type}")
    pq.write_table(
        pa.table({"id": pa.array(range(len(pages)), pa.int32()), "html": pa.array(pages, html_type)}),
        path,
        row_group_size=64,
    )
    rows = extract_text(spark.read.parquet(path), "html", "t").select("id", "t").collect()
    return [t for _, t in sorted((r.id, r.t) for r in rows)]


def _assert_identical(spark, tmp_path, pages: list, html_type=pa.binary()) -> list:
    got = _spark_extract(spark, tmp_path, pages, html_type)
    want = [extract_text_py(p) for p in pages]
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            k = next((k for k, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
            pytest.fail(
                f"page {i}: first difference at char {k}: "
                f"spark {g[k - 20:k + 20]!r} vs python {w[k - 20:k + 20]!r}"
            )
    assert len(got) == len(pages)
    return want


_MARK = "\n#%\n"


def _pages(fragments: list[str], per_page: int) -> list[bytes]:
    """Fragments joined into pages, each fragment closed by a marker line."""
    return [
        "".join(f + _MARK for f in fragments[i:i + per_page]).encode("utf-8")
        for i in range(0, len(fragments), per_page)
    ]


def _assert_fragments_survive(texts: list[str], n_fragments: int) -> None:
    """Coverage guard: a fragment whose tag never closes would let the
    lazy drop-block match swallow the fragments after it."""
    assert sum(t.count(_MARK.strip()) for t in texts) >= 0.99 * n_fragments


def test_every_code_point_at_dialect_positions(spark, tmp_path):
    """Every code point after a tag name (Python's Unicode `\\b` vs
    Java's), inside closing tags and block breaks (`\\s`), and around
    line text (collapse + `str.strip()`, whose 29 whitespace code points
    Java's `\\s` does not cover; Java's `$`/`\\v` line terminators)."""
    frags = [
        f"<{_TAGS[i % 6]}{ch}>A</{_TAGS[i % 6]}>B<style>C</style{ch}>D</style>E"
        f"</{_BREAKS[i % 7]}{ch}>F<br{ch}/>G{ch}\n{ch}a{ch}{ch}b {ch}\n{ch}\n"
        for i, ch in enumerate(_ALL)
    ]
    _assert_fragments_survive(_assert_identical(spark, tmp_path, _pages(frags, 4096)), len(frags))


def test_case_folded_tag_letters_and_backreference(spark, tmp_path):
    """Each tag-name letter replaced by every code point whose case
    mappings reach an ASCII letter (s↔ſ, i↔İ/ı, k↔K ...), in the
    opener, in the closer (the `</\\1` backreference) and in block
    breaks."""
    frags = []
    for tag in _TAGS + _BREAKS:
        for k in range(len(tag)):
            for ch in _FOLDS:
                var = tag[:k] + ch + tag[k + 1:]
                frags += [
                    f"<{var}>A</{tag}>B</{tag}>",
                    f"<{tag}>C</{var}>D</{tag.upper()}>E",
                    f"<{tag.upper()}>F</{var} >G</{tag}>H",
                    f"x</{var}>y<{var}/>z",
                ]
    _assert_fragments_survive(_assert_identical(spark, tmp_path, _pages(frags, 512)), len(frags))


def test_unclosed_script_megabyte_page(spark, tmp_path):
    body = "word &amp; more\t\x0b text " * (1 << 16)
    pages = [
        f"<p>a</p><script>{body}<p>b</p>".encode(),
        f"<p>a</p><SCRIPT type=x>{body}</scrip><p>b</p>".encode(),
    ]
    assert len(pages[0]) > 1 << 20
    _assert_identical(spark, tmp_path, pages)


def test_malformed_utf8_decodes_like_errors_replace(spark, tmp_path):
    """`make_valid_utf8` and Python's errors="replace" emit U+FFFD for
    the same maximal invalid subsequences."""
    cases = [
        b"ab\xe2\x82",  # truncated 3-byte sequence at the end
        b"a\xf0\x9f\x98b",  # truncated 4-byte sequence mid-text
        b"\xc0\xaf",  # overlong '/'
        b"\xe0\x80\xaf",  # overlong, 3 bytes
        b"\xed\xa0\x80\xed\xbf\xbf",  # UTF-16 surrogates
        b"\xf4\x90\x80\x80",  # above U+10FFFF
        b"\xf8\x88\x80\x80\x80",  # 5-byte form
        b"\x80x\xbf",  # lone continuation bytes
        b"\xfe\xff",  # bytes never valid in UTF-8
        b"ok\xc3(\xe2\x28\xa1x\xf0\x28\x8c\x28",  # mixed
        "\ufffd".encode(),  # a genuine U+FFFD
        b"<scr\xffipt>x</script>",  # invalid byte inside a tag name
        b"\xe2\x80\xa8 a \xc2\x85 \xe2\x80\xa9",  # valid U+2028 / U+0085 / U+2029
    ]
    _assert_identical(spark, tmp_path, [b"<p>" + c + b"</p>" for c in cases])


def test_null_and_string_html(spark, tmp_path):
    """NULL html gives NULL text; a string-typed html column works."""
    pages = ["<p>a &lt; b</p><nav>x</nav>", None, "<div> c </div>"]
    assert extract_text_py(None) is None
    assert _spark_extract(spark, tmp_path, pages, pa.string()) == [
        extract_text_py(p) for p in pages
    ]
    assert _spark_extract(spark, tmp_path, [None, b"<p>z</p>"]) == [None, "z"]
