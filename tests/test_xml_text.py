"""Wiki-dump XML (functions/xml_text, on expat): escaping round-trips,
document grammar, well-formedness raises, DTD entities refused, and
the MediaWiki dump shape the bz2 rung composes with."""

from __future__ import annotations

import time

import pytest

from data_warehouse_migration_spark.functions.xml_text import (
    build_wikidump,
    wikidump_pages,
)


def _dump(body: str, prolog: str = "") -> str:
    return f"{prolog}<mediawiki>{body}</mediawiki>"


def _one(text: str, title: str = "T") -> dict:
    pages = wikidump_pages(
        build_wikidump([{"title": title, "ns": 0, "page_id": 1, "text": text}])
    )
    assert len(pages) == 1
    return pages[0]


def test_entity_codec_identity():
    nasty = "a < b && c > d \"quoted\" 'apos' &#65; literal ]]> end"
    assert _one(nasty, title=nasty) == {
        "title": nasty, "ns": 0, "page_id": 1, "text": nasty,
    }
    page = "<page><title>&#65;&#x42;&lt;&amp;&gt;&quot;&apos;</title></page>"
    assert wikidump_pages(_dump(page))[0]["title"] == "AB<&>\"'"
    for bad in ("&nbsp;", "&amp no semicolon", "&#12a;"):
        with pytest.raises(ValueError, match="XML"):
            wikidump_pages(_dump(f"<page><title>{bad}</title></page>"))


def test_carriage_returns_round_trip():
    # a literal CR would reach the reader as LF; the writer's &#13;
    # survives end-of-line handling
    for text in ("a\rb", "a\r\nb", "\r\n\r\n", "end\r", "\n\r\n\r"):
        assert _one(text, title=text)["text"] == text
        assert _one(text, title=text)["title"] == text


def test_document_grammar():
    doc = (
        '<?xml version="1.0"?>\n'
        "<!DOCTYPE mediawiki [ <!ELEMENT mediawiki ANY> ]>\n"
        "<!-- a comment with <fake> tags -->\n"
        '<mediawiki a="1" b=\'x>y\'><page><title k="&amp;v">t</title>'
        "<ns>2</ns><id>9</id><revision><text>pre<child/>mid"
        "<![CDATA[raw <not> &amp; text]]>post"
        "<deep><x>inner</x></deep></text></revision></page></mediawiki>"
        "<!-- trailing comment ok -->"
    )
    # CDATA stays verbatim (no entity decoding inside)
    assert wikidump_pages(doc) == [
        {"title": "t", "ns": 2, "page_id": 9,
         "text": "premidraw <not> &amp; textpostinner"},
    ]


def test_wellformedness_raises():
    bad = {
        "mismatch": "<mediawiki><b></mediawiki></b>",
        "unclosed": "<mediawiki><b></b>",
        "second root": "<mediawiki/><b/>",
        "stray text": "<mediawiki/>trailing words",
        "unquoted attr": "<mediawiki x=1/>",
        "unterminated comment": "<mediawiki><!-- oops</mediawiki>",
        "unterminated cdata": "<mediawiki><![CDATA[never ends</mediawiki>",
        "text before root": "hello <mediawiki/>",
        "undefined entity": "<mediawiki>&nbsp;</mediawiki>",
        "no root": "",
    }
    for why, doc in bad.items():
        with pytest.raises(ValueError, match="XML"):
            wikidump_pages(doc)
            pytest.fail(why)


def test_billion_laughs_refused_at_once():
    lol = "".join(
        f'<!ENTITY lol{i} "{f"&lol{i - 1};" * 10}">' for i in range(1, 10)
    )
    doc = (
        f'<!DOCTYPE mediawiki [<!ENTITY lol0 "lol">{lol}]>'
        "<mediawiki><page><title>&lol9;</title></page></mediawiki>"
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="entity 'lol0' refused"):
        wikidump_pages(doc)
    assert time.perf_counter() - t0 < 0.5
    # an external entity, and a reference an external DTD might define
    for doc in (
        '<!DOCTYPE mediawiki [<!ENTITY x SYSTEM "file:///etc/passwd">]>'
        "<mediawiki>&x;</mediawiki>",
        '<!DOCTYPE mediawiki SYSTEM "dump.dtd"><mediawiki>&x;</mediawiki>',
    ):
        with pytest.raises(ValueError, match="entity 'x' refused"):
            wikidump_pages(doc)


def test_control_character_raises():
    # XML 1.0 cannot carry C0 controls other than tab, LF and CR
    for c in ("\x00", "\x01", "\x1f"):
        with pytest.raises(ValueError, match="XML"):
            _one(f"a{c}b")
    assert _one("tab\tnewline\n")["text"] == "tab\tnewline\n"


def test_text_ordering_interleaved():
    doc = _dump(
        "<page><revision><text>a<x>b</x>c<y>d</y>e</text></revision></page>"
    )
    assert wikidump_pages(doc)[0]["text"] == "abcde"


def test_wikidump_roundtrip():
    pages = [
        {"title": "Doc 7 <&>", "ns": 3, "page_id": 7,
         "text": "body with <tags> & \"entities\"\nand newlines"},
        {"title": "Talk:Doc 7", "ns": 1, "page_id": 8, "text": "ack"},
    ]
    back = wikidump_pages(build_wikidump(pages))
    assert [(p["title"], p["ns"], p["page_id"], p["text"]) for p in back] == [
        (p["title"], p["ns"], p["page_id"], p["text"]) for p in pages
    ]
    with pytest.raises(ValueError, match="MediaWiki"):
        wikidump_pages("<notadump/>")


def test_find_helpers():
    # children a page lacks read as the defaults; only direct <page>
    # children of the root, and the first <revision>, are read
    doc = _dump(
        "<page/>"
        "<page><revision><text>first</text></revision>"
        "<revision><text>second</text></revision></page>"
        "<wrapper><page><title>nested</title></page></wrapper>"
    )
    assert wikidump_pages(doc) == [
        {"title": "", "ns": 0, "page_id": -1, "text": ""},
        {"title": "", "ns": 0, "page_id": -1, "text": "first"},
    ]
