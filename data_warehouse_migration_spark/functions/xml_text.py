"""MediaWiki dump pages on CPython's expat — the parser the bzip2 rung
exists for: Wikipedia dumps (`pages-articles.xml.bz2`, the canonical
open pretraining corpus) are multistream bzip2 around one big XML
document, so the ingest compositions pair bzip2
(`functions/codecs`) with this module (``wikidump_extract``).

``xml.parsers.expat`` checks well-formedness (mismatched or unclosed
tags, a second root, text outside the root, undefined entities,
characters XML 1.0 cannot carry) and feeds an ElementTree
``TreeBuilder``. A DTD may declare elements, but an entity
declaration raises as soon as expat reports it, and so does a
reference expat would skip (one an external DTD might define) — the
defusedxml posture, so no document expands a billion laughs. Every
failure is ``ValueError``, the untrusted-input class of the crawl
stack (quarantine-routable).

Namespaces are not resolved (tag names keep their prefixes verbatim)
— dump extraction matches local names, which is what its consumers
key on.

Scale: one document per row through Arrow-batched ``mapInPandas``;
expat is a single forward scan, linear in the document.
"""

from __future__ import annotations

from xml.etree.ElementTree import Element, TreeBuilder
from xml.parsers import expat
from xml.sax.saxutils import escape


def _refuse_entity(name: str, *_: object) -> None:
    raise ValueError(f"XML: entity {name!r} refused (no DTD entities)")


def _parse(xml: str) -> Element:
    builder = TreeBuilder()
    parser = expat.ParserCreate()
    parser.StartElementHandler = builder.start
    parser.EndElementHandler = builder.end
    parser.CharacterDataHandler = builder.data
    parser.EntityDeclHandler = _refuse_entity
    parser.SkippedEntityHandler = _refuse_entity
    try:
        parser.Parse(xml, True)
    except expat.ExpatError as exc:
        raise ValueError(f"XML: {exc}") from exc
    return builder.close()


def _text(el: Element | None, default: str = "") -> str:
    """Concatenated direct + descendant text, document order."""
    return default if el is None else "".join(el.itertext())


def wikidump_pages(xml: str) -> list[dict]:
    """Extract ``<page>`` records from a MediaWiki export document:
    ``(title, ns, page_id, text)`` with text taken from the first
    ``<revision><text>`` (dumps carry one revision per page)."""
    root = _parse(xml)
    if root.tag.split(":")[-1] != "mediawiki":
        raise ValueError(f"not a MediaWiki export (root <{root.tag}>)")
    out: list[dict] = []
    for page in root.findall("page"):
        rev = page.find("revision")
        out.append(
            {
                "title": _text(page.find("title")),
                "ns": int(_text(page.find("ns"), "0")),
                "page_id": int(_text(page.find("id"), "-1")),
                "text": _text(rev.find("text") if rev is not None else None),
            }
        )
    return out


def _escape(s: str) -> str:
    # a literal CR would reach the reader as LF (XML end-of-line
    # handling); the character reference survives
    return escape(s, {"\r": "&#13;"})


def build_wikidump(pages: list[dict]) -> str:
    """Deterministic writer for the gate harness: the export shape a
    real dump uses (siteinfo skipped — extraction never reads it),
    with page text escaped so the parse returns it verbatim, the
    identity the oracle recomputes."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n']
    parts.append('<mediawiki xml:lang="en">\n')
    for p in pages:
        parts.append(
            "  <page>\n"
            f"    <title>{_escape(p['title'])}</title>\n"
            f"    <ns>{int(p['ns'])}</ns>\n"
            f"    <id>{int(p['page_id'])}</id>\n"
            "    <revision>\n"
            f"      <id>{int(p['page_id']) + 1}</id>\n"
            '      <text bytes="0" xml:space="preserve">'
            f"{_escape(p['text'])}</text>\n"
            "    </revision>\n"
            "  </page>\n"
        )
    parts.append("</mediawiki>")
    return "".join(parts)
