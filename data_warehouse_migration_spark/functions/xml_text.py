"""Minimal well-formed XML — the parser the bzip2 rung exists for:
Wikipedia dumps (`pages-articles.xml.bz2`, the canonical open
pretraining corpus) are multistream bzip2 around one big XML document,
so the ingest compositions pair bzip2 (`functions/codecs`) with this
module (``wikidump_extract``).

Scope (honest subset, enough for dump-shaped documents and strict
enough to be a real parser, not a regex):

- prolog/processing instructions, comments, CDATA sections, DOCTYPE
  (skipped, not interpreted — no entity expansion beyond the five
  predefined + numeric, so no billion-laughs surface BY CONSTRUCTION);
- elements with quoted attributes (either quote, ``>`` legal inside a
  quoted value), self-closing tags, text nodes;
- character references ``&#N;``/``&#xH;`` and the five predefined
  entities; anything else raises (custom DTD entities are out of
  scope, which a dump never needs);
- well-formedness enforced: mismatched/unclosed tags, stray ``<``,
  truncated constructs all raise ValueError — the untrusted-input
  posture of the crawl stack (quarantine-routable).

Namespaces are not resolved (tag names keep their prefixes verbatim)
— dump extraction matches local names, which is what its consumers
key on.

Scale: one document per row through Arrow-batched ``mapInPandas``;
the parser is a single forward scan (no backtracking), linear in the
document.
"""

from __future__ import annotations

_PREDEFINED = {
    "lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'",
}


def decode_entities(s: str) -> str:
    """Predefined + numeric character references; unknown entities
    raise (no DTD, so nothing else is defined)."""
    if "&" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "&":
            out.append(c)
            i += 1
            continue
        end = s.find(";", i + 1)
        if end < 0 or end - i > 12:
            raise ValueError("unterminated entity reference")
        name = s[i + 1 : end]
        if name.startswith("#x") or name.startswith("#X"):
            out.append(chr(int(name[2:], 16)))
        elif name.startswith("#"):
            if not name[1:].isdigit():
                raise ValueError(f"bad character reference &{name};")
            out.append(chr(int(name[1:])))
        elif name in _PREDEFINED:
            out.append(_PREDEFINED[name])
        else:
            raise ValueError(f"undefined entity &{name};")
        i = end + 1
    return "".join(out)


def encode_entities(s: str) -> str:
    """The writer-side inverse (escape ∘ decode is the identity the
    gate oracles rely on)."""
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


_NAME_END = set(" \t\r\n/>=")


class XmlElement:
    __slots__ = ("tag", "attrs", "children", "text_parts")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[XmlElement] = []
        self.text_parts: list[str] = []

    def text(self) -> str:
        """Concatenated direct + descendant text, document order."""
        parts: list[str] = []
        # text_parts[k] precedes children[k]; the final part follows
        for k, child in enumerate(self.children):
            if k < len(self.text_parts):
                parts.append(self.text_parts[k])
            parts.append(child.text())
        parts.extend(self.text_parts[len(self.children) :])
        return "".join(parts)

    def find(self, tag: str) -> "XmlElement | None":
        for c in self.children:
            if c.tag == tag:
                return c
        return None

    def find_all(self, tag: str) -> "list[XmlElement]":
        return [c for c in self.children if c.tag == tag]


def parse_xml(s: str) -> XmlElement:
    """Parse one well-formed document → the root element."""
    n = len(s)
    pos = 0
    root: XmlElement | None = None
    stack: list[XmlElement] = []

    def fail(msg: str) -> None:
        raise ValueError(f"XML: {msg} at offset {pos}")

    while pos < n:
        lt = s.find("<", pos)
        if lt < 0:
            if stack:
                fail("document ended inside an element")
            if s[pos:].strip():
                fail("text outside the root element")
            break
        if lt > pos:
            chunk = s[pos:lt]
            if stack:
                stack[-1].text_parts[-1] += decode_entities(chunk)
            elif chunk.strip():
                fail("text outside the root element")
        pos = lt
        if s.startswith("<?", pos):
            end = s.find("?>", pos + 2)
            if end < 0:
                fail("unterminated processing instruction")
            pos = end + 2
            continue
        if s.startswith("<!--", pos):
            end = s.find("-->", pos + 4)
            if end < 0:
                fail("unterminated comment")
            pos = end + 3
            continue
        if s.startswith("<![CDATA[", pos):
            end = s.find("]]>", pos + 9)
            if end < 0:
                fail("unterminated CDATA section")
            if not stack:
                fail("CDATA outside the root element")
            stack[-1].text_parts[-1] += s[pos + 9 : end]  # verbatim
            pos = end + 3
            continue
        if s.startswith("<!DOCTYPE", pos):
            # skip to the matching '>' honoring one bracket level
            depth = 0
            j = pos + 9
            while j < n:
                if s[j] == "[":
                    depth += 1
                elif s[j] == "]":
                    depth -= 1
                elif s[j] == ">" and depth == 0:
                    break
                j += 1
            if j >= n:
                fail("unterminated DOCTYPE")
            pos = j + 1
            continue
        if s.startswith("</", pos):
            end = s.find(">", pos + 2)
            if end < 0:
                fail("unterminated close tag")
            name = s[pos + 2 : end].strip()
            if not stack:
                fail(f"close tag </{name}> with nothing open")
            if stack[-1].tag != name:
                fail(f"close tag </{name}> does not match <{stack[-1].tag}>")
            stack.pop()
            pos = end + 1
            if not stack and s[pos:].strip():
                # only comments/PIs may follow the root
                tail = s[pos:].strip()
                if not (tail.startswith("<?") or tail.startswith("<!--")):
                    fail("content after the root element")
            continue
        # open tag
        j = pos + 1
        k = j
        while k < n and s[k] not in _NAME_END:
            k += 1
        if k == j:
            fail("empty tag name")
        tag = s[j:k]
        attrs: dict[str, str] = {}
        while True:
            while k < n and s[k] in " \t\r\n":
                k += 1
            if k >= n:
                fail("unterminated open tag")
            if s[k] == ">":
                el = XmlElement(tag, attrs)
                el.text_parts.append("")
                if stack:
                    stack[-1].children.append(el)
                    stack[-1].text_parts.append("")
                elif root is None:
                    root = el
                else:
                    fail("second root element")
                stack.append(el)
                pos = k + 1
                break
            if s.startswith("/>", k):
                el = XmlElement(tag, attrs)
                if stack:
                    stack[-1].children.append(el)
                    stack[-1].text_parts.append("")
                elif root is None:
                    root = el
                else:
                    fail("second root element")
                pos = k + 2
                break
            # attribute
            a = k
            while k < n and s[k] not in _NAME_END:
                k += 1
            name = s[a:k]
            while k < n and s[k] in " \t\r\n":
                k += 1
            if k >= n or s[k] != "=":
                fail(f"attribute {name!r} missing '='")
            k += 1
            while k < n and s[k] in " \t\r\n":
                k += 1
            if k >= n or s[k] not in "'\"":
                fail(f"attribute {name!r} value not quoted")
            q = s[k]
            endq = s.find(q, k + 1)
            if endq < 0:
                fail(f"attribute {name!r} value unterminated")
            attrs[name] = decode_entities(s[k + 1 : endq])
            k = endq + 1
    if root is None:
        raise ValueError("XML: no root element")
    if stack:
        raise ValueError(f"XML: element <{stack[-1].tag}> never closed")
    return root


# --- the wiki-dump shape ------------------------------------------------------


def wikidump_pages(xml: str) -> list[dict]:
    """Extract ``<page>`` records from a MediaWiki export document:
    ``(title, ns, page_id, text)`` with text taken from the latest
    ``<revision><text>`` (dumps carry one revision per page)."""
    root = parse_xml(xml)
    if root.tag.split(":")[-1] != "mediawiki":
        raise ValueError(f"not a MediaWiki export (root <{root.tag}>)")
    out: list[dict] = []
    for page in root.find_all("page"):
        title_el = page.find("title")
        ns_el = page.find("ns")
        id_el = page.find("id")
        rev = page.find("revision")
        text_el = rev.find("text") if rev is not None else None
        out.append(
            {
                "title": title_el.text() if title_el is not None else "",
                "ns": int(ns_el.text()) if ns_el is not None else 0,
                "page_id": int(id_el.text()) if id_el is not None else -1,
                "text": text_el.text() if text_el is not None else "",
            }
        )
    return out


def build_wikidump(pages: list[dict]) -> str:
    """Deterministic writer for the gate harness: the export shape a
    real dump uses (siteinfo skipped — extraction never reads it),
    with page text entity-escaped so escape ∘ decode is the identity
    the oracle recomputes."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n']
    parts.append('<mediawiki xml:lang="en">\n')
    for p in pages:
        parts.append(
            "  <page>\n"
            f"    <title>{encode_entities(p['title'])}</title>\n"
            f"    <ns>{int(p['ns'])}</ns>\n"
            f"    <id>{int(p['page_id'])}</id>\n"
            "    <revision>\n"
            f"      <id>{int(p['page_id']) + 1}</id>\n"
            '      <text bytes="0" xml:space="preserve">'
            f"{encode_entities(p['text'])}</text>\n"
            "    </revision>\n"
            "  </page>\n"
        )
    parts.append("</mediawiki>")
    return "".join(parts)
