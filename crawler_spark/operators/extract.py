"""HTML → links / records / text extraction (SURVEY.md §2.1 S2, §2.10).

The reference uses cheerio CSS selectors + ``.text()`` per connector
(e.g. les-arts-decoratifs.js:21,67; risd-museum.js:19,75). cheerio's
``.text()`` is the concatenation of all descendant text nodes, verbatim —
no whitespace insertion between elements. Three connectors pre-replace
``<br>`` with ``\\n`` before calling ``.text()``
(les-arts-decoratifs.js:122, met-museum.js:204-208, mtmad.js:168); that is
DOM-level, so it is modelled here as a text()-time option, never a string
replace on serialized HTML.

No lxml/bs4 in the runtime — a small DOM on stdlib ``html.parser`` implements
exactly the semantics above. Spark-facing entry points are Arrow-batched
pandas UDFs (``mapInPandas``): one Arrow batch of pages in, one batch of
links/records out — no per-row Python dispatch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

from crawler_spark.functions.canonicalize import canonicalize_url

_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Node | str] = []
        self.parent = parent

    # -- cheerio-compatible text(): concat of descendant text nodes verbatim
    def text(self, br_as_newline: bool = False) -> str:
        out: list[str] = []
        self._text(out, br_as_newline)
        return "".join(out)

    def _text(self, out: list[str], br_nl: bool) -> None:
        for c in self.children:
            if isinstance(c, str):
                out.append(c)
            elif c.tag == "br":
                if br_nl:
                    out.append("\n")
            else:
                c._text(out, br_nl)

    def attr(self, name: str) -> str | None:
        return self.attrs.get(name)

    def iter(self) -> Iterator["Node"]:
        for c in self.children:
            if isinstance(c, Node):
                yield c
                yield from c.iter()


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#root", {}, None)
        self.cur = self.root

    def handle_starttag(self, tag: str, attrs) -> None:
        node = Node(tag, {k: (v or "") for k, v in attrs}, self.cur)
        self.cur.children.append(node)
        if tag not in _VOID:
            self.cur = node

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.cur.children.append(Node(tag, {k: (v or "") for k, v in attrs}, self.cur))

    def handle_endtag(self, tag: str) -> None:
        # close nearest matching open ancestor (forgiving, browser-ish)
        n: Node | None = self.cur
        while n is not None and n.tag != tag:
            n = n.parent
        if n is not None and n.parent is not None:
            self.cur = n.parent

    def handle_data(self, data: str) -> None:
        if data:
            self.cur.children.append(data)


# ---------------------------------------------------------------------------
# Fast-path tokenizer. HTML parsing is the engine's hottest Python loop (the
# stdlib tokenizer alone is ~80% of parse time; every fetched page goes
# through it), so well-formed common-case markup takes a single-regex-per-tag
# scan that emits the EXACT event stream ``HTMLParser(convert_charrefs=True)``
# would for the same input — including its no-``close()`` quirks (incomplete
# trailing constructs and possibly-split trailing charrefs stay buffered,
# i.e. dropped). Anything the strict patterns don't accept (tolerant-parser
# territory: malformed attrs, ``<![`` marked sections, truncated start tags)
# returns None and the caller re-parses with the stdlib builder, so the fast
# path can only ever be a same-answer shortcut, never a semantic fork.
# Differential fuzz + fixture tests pin the equivalence
# (tests/test_extract_fastpath.py).

# strict start tag: name + simply-shaped attrs only; anything else must NOT
# match (falls back), and anything that DOES match is tokenized identically
# by html.parser's tolerant regexes
_FAST_STARTTAG = re.compile(
    # the lookahead pins the tag-name boundary to stdlib's: tagfind_tolerant
    # names absorb any char except [\t\n\r\f />\x00] — including non-ASCII
    # whitespace like \xa0 that `\s+` below would instead treat as an attr
    # separator — so a name not followed by an ASCII terminator must bail
    r'<([a-zA-Z][-.a-zA-Z0-9:_]*)(?=[\t\n\r\f />])'
    r'((?:\s+[^\s/>=\'"][^\s/>=]*'
    r"(?:\s*=\s*(?:'[^']*'|\"[^\"]*\"|[^>\s'\"=][^>\s'\"]*|(?=[\s>])))?"
    r')*)'
    r'\s*(/?)>'
)
_FAST_ATTR = re.compile(
    r'\s+([^\s/>=\'"][^\s/>=]*)'
    r"(\s*=\s*('[^']*'|\"[^\"]*\"|[^>\s'\"=][^>\s'\"]*|))?"
)
_FAST_ENDTAG = re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')  # endtagfind
# html.parser's own tolerant pieces, mirrored for the endtag fallback
_TAGFIND_TOLERANT = re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
_COMMENT_CLOSE = re.compile(r'--\s*>')  # _markupbase._commentclose
_AMP_TAIL = re.compile(r'[\s;]')
_CDATA_CLOSE = {
    "script": re.compile(r'</\s*script\s*>', re.I),
    "style": re.compile(r'</\s*style\s*>', re.I),
}


def _fast_parse(html: str) -> Node | None:
    """One-pass strict tokenizer building the same tree ``_TreeBuilder``
    would; None = input needs the tolerant stdlib parser."""
    root = Node("#root", {}, None)
    cur = root
    i, n = 0, len(html)
    cdata_tag: str | None = None
    while i < n:
        if cdata_tag is not None:
            # only a full ``</script\s*>`` leaves CDATA mode; content is raw
            # (never unescaped); EOF inside stays buffered — dropped
            m = _CDATA_CLOSE[cdata_tag].search(html, i)
            if m is None:
                return root
            if i < m.start():
                cur.children.append(html[i : m.start()])
            node: Node | None = cur
            while node is not None and node.tag != cdata_tag:
                node = node.parent
            if node is not None and node.parent is not None:
                cur = node.parent
            cdata_tag = None
            i = m.end()
            continue
        j = html.find("<", i)
        if j < 0:
            # goahead()'s split-charref guard: a '&' in the last 34 chars
            # with no [\s;] after it keeps the whole tail buffered
            amppos = html.rfind("&", max(i, n - 34))
            if amppos >= 0 and not _AMP_TAIL.search(html, amppos):
                return root
            if i < n:
                cur.children.append(unescape(html[i:n]))
            return root
        if i < j:
            cur.children.append(unescape(html[i:j]))
        i = j
        c = html[i + 1] if i + 1 < n else ""
        if c.isascii() and c.isalpha():
            m = _FAST_STARTTAG.match(html, i)
            if m is None:
                return None  # tolerant/truncated start tag
            tag = m.group(1).lower()
            blob = m.group(2)
            attrs: dict[str, str] = {}
            if blob:
                pos, bl = 0, len(blob)
                while pos < bl:
                    am = _FAST_ATTR.match(blob, pos)
                    if am is None or am.end() == pos:
                        return None  # blob re-parse must consume exactly
                    val = am.group(3)
                    if am.group(2) is None:
                        val = ""
                    elif val and (
                        val[0] == "'" == val[-1] or val[0] == '"' == val[-1]
                    ):
                        val = val[1:-1]
                    if val:
                        val = unescape(val)
                    attrs[am.group(1).lower()] = val
                    pos = am.end()
            node = Node(tag, attrs, cur)
            cur.children.append(node)
            if not m.group(3):  # not self-closing
                if tag not in _VOID:
                    cur = node
                if tag in _CDATA_CLOSE:
                    cdata_tag = tag
            i = m.end()
        elif c == "/":
            m = _FAST_ENDTAG.match(html, i)
            if m is not None:
                tag = m.group(1).lower()
                node = cur
                while node is not None and node.tag != tag:
                    node = node.parent
                if node is not None and node.parent is not None:
                    cur = node.parent
                i = m.end()
                continue
            # parse_endtag's tolerant branches, mirrored
            if html.find(">", i + 1) < 0:
                return root  # incomplete endtag at EOF: buffered, dropped
            nm = _TAGFIND_TOLERANT.match(html, i + 2)
            if nm is not None:
                tag = nm.group(1).lower()
                node = cur
                while node is not None and node.tag != tag:
                    node = node.parent
                if node is not None and node.parent is not None:
                    cur = node.parent
                i = html.find(">", nm.end()) + 1
            elif html.startswith("</>", i):
                i += 3
            else:
                g = html.find(">", i + 2)  # bogus comment, handler is no-op
                if g < 0:
                    return root
                i = g + 1
        elif c == "!":
            if html.startswith("<!--", i):
                m = _COMMENT_CLOSE.search(html, i + 4)
                if m is None:
                    return root  # unterminated comment: buffered, dropped
                i = m.end()
            elif html.startswith("<![", i):
                return None  # marked section: _markupbase territory
            elif html[i : i + 9].lower() == "<!doctype":
                g = html.find(">", i + 9)
                if g < 0:
                    return root
                i = g + 1
            else:  # bogus comment
                g = html.find(">", i + 2)
                if g < 0:
                    return root
                i = g + 1
        elif c == "?":
            g = html.find(">", i + 2)  # parse_pi, handler is no-op
            if g < 0:
                return root
            i = g + 1
        elif i + 1 < n:
            cur.children.append("<")
            i += 1
        else:
            return root  # lone trailing '<' dropped
    return root


def parse_html(html: bytes | str | None, encoding: str = "utf-8") -> Node:
    if html is None:
        html = ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode(encoding, errors="replace")
    root = _fast_parse(html)
    if root is not None:
        return root
    b = _TreeBuilder()
    b.feed(html)
    return b.root


def _match_simple(node: Node, sel: str) -> bool:
    """tag, .class, #id, tag.class, tag#id."""
    tag = None
    cls = None
    nid = None
    rest = sel
    if "#" in rest:
        rest, nid = rest.split("#", 1)
    if "." in rest:
        rest, cls = rest.split(".", 1)
    tag = rest or None
    if tag and node.tag != tag:
        return False
    if nid is not None and node.attrs.get("id") != nid:
        return False
    if cls is not None and cls not in (node.attrs.get("class") or "").split():
        return False
    return True


def _parse_simple(sel: str) -> tuple[str | None, str | None, str | None]:
    """``sel`` → (tag, cls, nid), split exactly like ``_match_simple``
    ('#' first, then '.', both on the remaining left part)."""
    cls = None
    nid = None
    rest = sel
    if "#" in rest:
        rest, nid = rest.split("#", 1)
    if "." in rest:
        rest, cls = rest.split(".", 1)
    return rest or None, cls, nid


def select(root: Node, selector: str) -> list[Node]:
    """Descendant-combinator CSS subset: ``div.field td.value`` etc.
    Document order, like cheerio.

    Hot path (runs once per selector per record page): the selector parses
    once up front instead of per node, and the subtree walk is an explicit
    pre-order stack in ``Node.iter()``'s exact order rather than nested
    generators."""
    current = [root]
    for part in selector.split():
        tag, cls, nid = _parse_simple(part)
        nxt: list[Node] = []
        seen: set[int] = set()
        for base in current:
            # children are only str|Node; strings pop cheap (C-level slice
            # reversal beats a filtering genexpr per node)
            stack = base.children[::-1]
            while stack:
                n = stack.pop()
                if type(n) is str:
                    continue
                if (
                    id(n) not in seen
                    and (tag is None or n.tag == tag)
                    and (nid is None or n.attrs.get("id") == nid)
                    and (
                        cls is None
                        or cls in (n.attrs.get("class") or "").split()
                    )
                ):
                    nxt.append(n)
                    seen.add(id(n))
                kids = n.children
                if kids:
                    stack += kids[::-1]
        current = nxt
    return current


# ---------------------------------------------------------------------------
# Connector extraction programs — the ~21 museum connectors collapse into
# config rows (north_star); this dataclass is the per-connector "program".


def _content_keep(cfg: "ConnectorConfig", by_label: dict) -> bool:
    """P2 content predicate (risd-museum.js:77-87 — keep only records whose
    configured field contains the substring, e.g. "silk"). The ONE keep
    rule every detail extractor applies; a semantics change (e.g.
    case-insensitive label match) must not drift per extractor."""
    if not (cfg.content_filter_label and cfg.content_filter_substr):
        return True
    vals = by_label.get(cfg.content_filter_label, [])
    return any(cfg.content_filter_substr in v.lower() for v in vals)


@dataclass(frozen=True)
class SecondaryFetch:
    """One typed secondary-fetch hop (gallica.js:83-148).

    Gallica enriches each detail record with up to two EXTRA page fetches
    whose fields merge into the PARENT record under a ``<kind>.`` prefix:
    the *notice* URL comes from a parent field value
    (``getFieldByLabel('Notice du catalogue')``, gallica.js:83-89) and the
    *book* URL from a link on the notice page itself
    (``#appartientA a``, gallica.js:116-121) — a typed chain, each hop's
    page pointing at the next hop's URL. ``ConnectorConfig.
    secondary_fetches`` is that chain, in order.

    * ``kind`` — field prefix (``notice``, ``book``); the hop also records
      ``<kind>.url`` itself (gallica.js:85, 120).
    * ``from_field`` — parent field whose first value is this hop's URL
      (first hop only).
    * ``link_selector`` — selector on the PREVIOUS hop's page whose first
      match's href (resolved against that page) is this hop's URL
      (chained hops).
    * ``row_selector``/``label_selector`` — per-row field shape on the
      secondary page: label element, value = the label's next ``span``
      sibling; links inside the span each contribute their text as a
      value, excluding ``.pictos`` decorations (gallica.js:92-103).
    * ``image_selector`` — first match's src becomes an extra record image
      unless it starts with the parent record URL (gallica.js:104-114).
    """

    kind: str
    from_field: str | None = None
    link_selector: str | None = None
    row_selector: str = "div.notice"
    label_selector: str = "span.notice-label"
    image_selector: str = "img.grand"


@dataclass(frozen=True)
class ConnectorConfig:
    connector_id: str
    # search page
    count_selector: str = "#count"
    # count parsed from decorated text instead of a leading number:
    # group 1 of the regex, commas stripped (smithsonian.js:19-26 "(147)";
    # venetian.js:31-39 "Schede trovate: 88")
    count_regex: str | None = None
    result_link_selector: str = "ul.results a"
    # detail page
    title_selector: str = "h1.title"
    field_row_selector: str = "tr.field"
    label_selector: str = "td.label"
    value_selector: str = "td.value"
    image_selector: str = "div.images img"
    related_selector: str = "div.related a"
    # behavior toggles mapped from the census (SURVEY.md Appendix A)
    br_to_newline: bool = True  # les-arts-decoratifs.js:122
    encoding: str = "utf-8"  # ceres-mcu.js:121 uses latin1
    content_filter_label: str | None = None  # risd silk filter
    content_filter_substr: str | None = None
    # louvre.js:143-148 parseText: split extracted values on newlines into
    # one value per non-empty trimmed line (the repeated-label addField
    # path then appends them in order)
    split_multiline_values: bool = False
    # versailles.js:128: the record id is an extracted field value
    # ("Nº d'inventaire:"), not a URL path segment — when set, record_id =
    # first value under this label (URL-segment fallback when absent)
    record_id_label: str | None = None
    drop_params: frozenset[str] = field(default_factory=frozenset)
    # body format: "html" (cheerio connectors, S2), "json" (typed JSON API
    # connectors, S3 — vam.js:25-49,72-133), "es_msearch" (Elasticsearch
    # NDJSON _msearch, S4 — joconde.js:11-75), or "graphql" (S5 —
    # paris-musees.js:46-95,204-520)
    body_format: str = "html"
    # P6 key-pattern filters: keys containing the marker are metadata, not
    # fields (musee-st-etienne.js:76-77 skips '_'-keys); keys in skip_keys
    # are handled out-of-band (unipa.js:57-59 'image')
    skip_key_containing: str | None = None
    skip_keys: frozenset[str] = field(default_factory=frozenset)
    # U4: dedup values when folding repeats into one label
    # (musee-st-etienne.js:100-114 skips already-present values)
    dedup_values: bool = False
    # es_msearch: record url = record_url_base + _source[record_id_key]
    # (joconde.js:137-141 url.resolve(notice base, REF))
    record_id_key: str = "REF"
    record_url_base: str = "/notice/"
    # es_msearch related-by-regex on a free-text field
    # (joconde.js:181-197: HIST inventory numbers N.N.N)
    related_field: str = "HIST"
    related_regex: str = r"[0-9]+\.[0-9]+\.[0-9]+"
    # graphql: request-side query template ({offset}/{limit} spliced like
    # paris-musees.js:46-63)
    graphql_query: str = (
        "{{ nodeQuery(filter: {{conditions: []}}, "
        "offset: {offset}, limit: {limit}) {{ count entities }} }}"
    )
    # ---- live-mode request shape (the reference's biggest connectors POST:
    # joconde.js:44-51 NDJSON _msearch, paris-musees.js:65-80 GraphQL,
    # ceres-mcu.js:111-118 form-encoded page fields, mtmad.js:80-93 JSON
    # pagination). The frontier URL stays the canonical identity (paging
    # params live in its query string for url_hash/seen semantics); at send
    # time the templates move them into the request body:
    #   method          — "GET" (default) or "POST"
    #   content_type    — request Content-Type when a template fires
    #   body_template   — str.format template for kind="search" rows; the
    #                     placeholder namespace is the URL's query params
    #                     (+ body_defaults, + {id} = last path segment);
    #                     missing keys render as ''
    #   detail_body_template — same, for record/related rows (paris-musees
    #                     per-entity GraphQL POST; joconde single-hit
    #                     _msearch) — None ⇒ details go as GET
    #   strip_params    — query params removed from the SENT url (identity-
    #                     only markers the real endpoint never sees)
    #   body_defaults   — static placeholder values not carried in the URL
    #                     (e.g. the page size the connector config fixes)
    method: str = "GET"
    content_type: str | None = None
    body_template: str | None = None
    detail_body_template: str | None = None
    strip_params: tuple[str, ...] = ()
    body_defaults: dict = field(default_factory=dict)
    # ---- S6 stateful POST bodies (imatex.js:41-107,122-131): ASP.NET-style
    # hosts demand fields harvested from the PREVIOUS same-host response
    # (__VIEWSTATE/__EVENTVALIDATION) spliced into the next POST. Mapping
    # placeholder → regex with ONE capture group: after every same-host
    # response the fetch worker re-captures each field and holds it next to
    # the host's cookie jar; body templates then render `{placeholder}`
    # with the harvested value. ``session_handshake_url`` (path or absolute,
    # resolved against the row URL) is GET-fetched first whenever a worker
    # must POST to a host it holds no session state for — the batch
    # analog of the reference's "load the form page, then post it back".
    session_field_regex: dict = field(default_factory=dict)
    session_handshake_url: str | None = None
    # Gallica-style typed secondary-fetch chain (gallica.js:83-148): extra
    # per-record fetches whose fields merge into the parent record under a
    # `<kind>.` prefix — see SecondaryFetch above
    secondary_fetches: tuple[SecondaryFetch, ...] = ()


SYNTH = ConnectorConfig(connector_id="synth")


def extract_count(root: Node, cfg: ConnectorConfig) -> int | None:
    """Result count — 'N results' text (anchor: les-arts-decoratifs.js:22-23).

    With ``cfg.count_regex`` the number is group 1 of the regex over the
    node's full text, commas stripped — the decorated-count connectors
    (smithsonian.js:19-26 "(147)"; venetian.js:31-39 "Schede trovate: 88").
    """
    nodes = select(root, cfg.count_selector)
    if not nodes:
        return None
    txt = nodes[0].text().strip()
    if cfg.count_regex:
        m = re.search(cfg.count_regex, txt)
        if not m:
            return None
        digits = m.group(1).replace(",", "")
        return int(digits) if digits.isdigit() else None
    digits = "".join(ch for ch in txt.split(" ")[0] if ch.isdigit())
    return int(digits) if digits else None


def _decode(body: bytes | str, encoding: str) -> str:
    if isinstance(body, (bytes, bytearray, memoryview)):
        return bytes(body).decode(encoding, errors="replace")
    return body


def _image(
    url: str,
    id: str | None = None,
    title: str | None = None,
    description: str | None = None,
    author: str | None = None,
    license: str | None = None,
) -> dict:
    """Image struct with metadata (record.js addImage shape; populated by
    the connectors that carry it — paris-musees.js:181-191 id/title/
    description/author/license, mfa-boston.js:105-114 title/alt)."""
    return {
        "id": id,
        "url": url,
        "title": title,
        "description": description,
        "author": author,
        "license": license,
    }


def extract_search_json(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> tuple[int | None, list[str]]:
    """JSON search response → (total, record URLs) — the S3 path
    (vam.js:25-49: typed traversal of ``info.record_count`` + per-record
    links). Fixture shape: ``{"total": N|null, "records": [{"url": ...}]}``."""
    import json

    try:
        data = json.loads(_decode(body, cfg.encoding))
    except ValueError:
        return None, []
    if not isinstance(data, dict):
        return None, []
    total = data.get("total")
    recs = data.get("records")
    urls: list[str] = []
    for rec in recs if isinstance(recs, list) else []:
        if not isinstance(rec, dict):
            continue
        url = rec.get("url")
        u = canonicalize_url(
            url if isinstance(url, str) else None, base_url, cfg.drop_params
        )
        if u:
            urls.append(u)
    return (
        int(total)
        if isinstance(total, (int, float)) and not isinstance(total, bool)
        else None
    ), urls


def extract_detail_json(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> dict:
    """JSON detail response → record dict with reference semantics:

    * P1 empty-value filter (record.js:14-21): null/''/[] skipped;
    * P3 type projection (vam.js:74-76): only string|number values kept,
      numbers serialized verbatim;
    * scalar→array promotion by repeated labels (record.js:22-37);
    * image-URL dedup (record.js:47-50).

    ``text`` composition is identical to the HTML path: title line +
    one ``label\\tvalue`` line per kept value, in input order.
    """
    import json

    try:
        data = json.loads(_decode(body, cfg.encoding))
    except ValueError:
        data = {}
    if not isinstance(data, dict):
        data = {}
    title = str(data.get("title") or "").strip()
    fields: list[tuple[str, list[str]]] = []
    by_label: dict[str, list[str]] = {}
    lines: list[str] = [title]
    raw_fields = data.get("fields")
    for f in raw_fields if isinstance(raw_fields, list) else []:
        if not isinstance(f, dict):
            continue
        label = str(f.get("label") or "").strip()
        raw = f["values"] if "values" in f else [f.get("value")]
        if not isinstance(raw, list):
            raw = [raw]
        clean: list[str] = []
        for v in raw or []:
            if isinstance(v, bool) or v is None:
                continue  # P1 (booleans are flags, never field values — §1.2)
            if isinstance(v, (int, float)):
                # JS String(value) semantics (vam.js:74-76): 1.0 → '1'
                v = _num_str(v)
            elif not isinstance(v, str):
                continue  # P3: drop objects/arrays-of-objects
            v = v.strip()
            if not v:
                continue  # P1
            clean.append(v)
        if not label or not clean:
            continue
        for v in clean:
            lines.append(f"{label}\t{v}")
        if label in by_label:
            by_label[label].extend(clean)
        else:
            by_label[label] = list(clean)
            fields.append((label, by_label[label]))

    images: list[dict] = []
    img_seen: set[str] = set()
    raw_imgs = data.get("images")
    for src in raw_imgs if isinstance(raw_imgs, list) else []:
        if not isinstance(src, str):
            continue
        u = canonicalize_url(src, base_url, cfg.drop_params)
        if u and u not in img_seen:
            img_seen.add(u)
            images.append(_image(u))

    related: list[str] = []
    raw_rel = data.get("related")
    for href in raw_rel if isinstance(raw_rel, list) else []:
        if not isinstance(href, str):
            continue
        u = canonicalize_url(href, base_url, cfg.drop_params)
        if u:
            related.append(u)

    keep = _content_keep(cfg, by_label)

    return {
        "title": title,
        "fields": fields,
        "images": images,
        "related": related,
        "text": "\n".join(lines),
        "keep": keep,
        "raw": None,
    }


def extract_search(
    html: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> tuple[int | None, list[str]]:
    """Search page → (total_count, record URLs in DOM order); dispatches on
    the connector's body format (S2 html / S3 json / S4 es_msearch /
    S5 graphql)."""
    if cfg.body_format == "json":
        return extract_search_json(html, base_url, cfg)
    if cfg.body_format == "es_msearch":
        return extract_search_es_msearch(html, base_url, cfg)
    if cfg.body_format == "graphql":
        return extract_search_graphql(html, base_url, cfg)
    root = parse_html(html, cfg.encoding)
    total = extract_count(root, cfg)
    urls: list[str] = []
    for a in select(root, cfg.result_link_selector):
        href = a.attr("href")
        u = canonicalize_url(href, base_url, cfg.drop_params)
        if u:
            urls.append(u)
    return total, urls


def extract_detail(
    html: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> dict:
    """Detail page → record dict with reference field-merge semantics;
    dispatches to the JSON path for S3 connectors.

    Field order = DOM order; repeated labels merge by appending values
    (record.js:22-37 addField promotion). Image URLs deduped per record
    (record.js:47-50). ``text`` is the byte-parity extraction: title line +
    one ``label\\tvalue`` line per (label, value) pair, values with <br>
    rendered as newline, each side ``.trim()``-ed — the exact composition the
    synthetic corpus golden column uses.
    """
    if cfg.body_format == "json":
        return extract_detail_json(html, base_url, cfg)
    if cfg.body_format == "es_msearch":
        return extract_detail_es_msearch(html, base_url, cfg)
    if cfg.body_format == "graphql":
        return extract_detail_graphql(html, base_url, cfg)
    root = parse_html(html, cfg.encoding)
    title_nodes = select(root, cfg.title_selector)
    title = title_nodes[0].text().strip() if title_nodes else ""

    fields: list[tuple[str, list[str]]] = []
    by_label: dict[str, list[str]] = {}
    lines: list[str] = [title]
    for row in select(root, cfg.field_row_selector):
        lab_nodes = select(row, cfg.label_selector)
        val_nodes = select(row, cfg.value_selector)
        if not lab_nodes or not val_nodes:
            continue
        label = lab_nodes[0].text().strip()
        value = val_nodes[0].text(br_as_newline=cfg.br_to_newline).strip()
        # addField empty-value filter (record.js:14-21)
        if not label or not value:
            continue
        if cfg.split_multiline_values:
            # louvre.js:143-148 parseText: one value per non-empty trimmed
            # line, each appended under the label in order
            values = [v for v in (p.strip() for p in value.split("\n")) if v]
        else:
            values = [value]
        for value in values:
            lines.append(f"{label}\t{value}")
            if label in by_label:
                by_label[label].append(value)  # scalar→array promotion
            else:
                vals = [value]
                by_label[label] = vals
                fields.append((label, vals))

    images: list[dict] = []
    img_seen: set[str] = set()
    for img in select(root, cfg.image_selector):
        src = canonicalize_url(img.attr("src"), base_url, cfg.drop_params)
        if src and src not in img_seen:  # addImage url-dedup (record.js:47-50)
            img_seen.add(src)
            # metadata from the tag attrs (mfa-boston.js:105-114: title attr
            # → image.title, alt attr → image.description)
            images.append(
                _image(
                    src,
                    id=img.attr("data-id"),
                    title=img.attr("title"),
                    description=img.attr("alt"),
                )
            )

    related: list[str] = []
    for a in select(root, cfg.related_selector):
        u = canonicalize_url(a.attr("href"), base_url, cfg.drop_params)
        if u:
            related.append(u)

    keep = _content_keep(cfg, by_label)

    return {
        "title": title,
        "fields": fields,
        "images": images,
        "related": related,
        "text": "\n".join(lines),
        "keep": keep,
        "raw": None,
    }


# ---------------------------------------------------------------------------
# Gallica-style typed secondary fetches (gallica.js:83-148).


def extract_secondary(
    body: bytes | str,
    page_url: str,
    sf: SecondaryFetch,
    cfg: ConnectorConfig,
    parent_url: str,
    next_sf: SecondaryFetch | None = None,
) -> dict:
    """One secondary page → prefixed (label, value) pairs, optional image,
    and the next hop's URL (via ``next_sf.link_selector`` on THIS page —
    gallica.js:116-121 finds the book link on the notice page)."""
    root = parse_html(body, cfg.encoding)
    fields: list[tuple[str, str]] = []
    for row in select(root, sf.row_selector):
        labs = select(row, sf.label_selector)
        if not labs:
            continue
        lab = labs[0]
        # $(label).next('span') — jQuery's .next(sel) takes ONLY the
        # immediately following element sibling and drops it if the
        # selector doesn't match; scanning further ahead would invent
        # fields the reference never emits (e.g. label <br> span)
        sibs = (
            [c for c in lab.parent.children if isinstance(c, Node)]
            if lab.parent is not None
            else []
        )
        idx = next((i for i, s in enumerate(sibs) if s is lab), None)
        span = None
        if (
            idx is not None
            and idx + 1 < len(sibs)
            and sibs[idx + 1].tag == "span"
        ):
            span = sibs[idx + 1]
        if span is None:
            continue
        label = lab.text().strip()
        links = [
            a
            for a in select(span, "a")
            if "pictos" not in (a.attrs.get("class") or "").split()
        ]
        # links in the span → one value per link text; else the span text
        # (gallica.js:95-103)
        values = (
            [a.text().strip() for a in links]
            if links
            else [span.text().strip()]
        )
        for v in values:
            if label and v:
                fields.append((f"{sf.kind}.{label}", v))

    images: list[dict] = []
    img_nodes = select(root, sf.image_selector)
    if img_nodes:
        src = canonicalize_url(
            img_nodes[0].attr("src"), page_url, cfg.drop_params
        )
        # skip when it's the record's own image (gallica.js:108-114)
        if src and not src.startswith(parent_url):
            images.append(_image(src))

    next_url: str | None = None
    if next_sf is not None and next_sf.link_selector:
        a = select(root, next_sf.link_selector)
        if a:
            next_url = canonicalize_url(
                a[0].attr("href"), page_url, cfg.drop_params
            )
    return {"fields": fields, "images": images, "next_url": next_url}


def run_secondary_chain(rec: dict, parent_url: str, fetch, cfg: ConnectorConfig) -> list[dict]:
    """Drive the whole chain sequentially (the replay-oracle / single-record
    path; the engine runs the same hops as per-round distributed fetch
    joins). ``fetch(url) -> bytes | None``. Returns hop dicts in chain
    order: {kind, url, fields, images}."""
    sfs = cfg.secondary_fetches
    if not sfs or sfs[0].from_field is None:
        return []
    by = {l: v for l, v in rec["fields"]}
    vals = by.get(sfs[0].from_field)
    url = vals[0] if vals else None
    out: list[dict] = []
    for i, sf in enumerate(sfs):
        if not url:
            break
        hop = {"kind": sf.kind, "url": url, "fields": [], "images": []}
        out.append(hop)
        body = fetch(url)
        if body is None:  # <kind>.url still recorded (added pre-fetch,
            break  # gallica.js:85-89)
        next_sf = sfs[i + 1] if i + 1 < len(sfs) else None
        parsed = extract_secondary(body, url, sf, cfg, parent_url, next_sf)
        hop["fields"] = parsed["fields"]
        hop["images"] = parsed["images"]
        url = parsed["next_url"]
    return out


def merge_secondaries(rec: dict, chain: list[dict]) -> dict:
    """Fold a secondary chain into the parent record with the reference's
    addField/addImage semantics: ``<kind>.url`` first (gallica.js:85,120),
    then the hop's fields, repeated labels appending (record.js:22-37),
    empties skipped (record.js:14-21), image URLs deduped
    (record.js:47-50); ``text`` gains one ``label\\tvalue`` line per added
    value. Shared by the replay oracle and the engine's merge stage — the
    two sides cannot drift."""
    if not chain:
        return rec
    fields = rec["fields"]
    by = {l: v for l, v in fields}
    lines = [rec["text"]]  # existing text block (title + field lines)
    img_seen = {im["url"] for im in rec["images"]}
    for hop in chain:
        for label, value in [(f"{hop['kind']}.url", hop["url"])] + list(
            hop["fields"]
        ):
            if not label or not value:
                continue
            lines.append(f"{label}\t{value}")
            if label in by:
                by[label].append(value)
            else:
                vals = [value]
                by[label] = vals
                fields.append((label, vals))
        for im in hop["images"]:
            if im["url"] not in img_seen:
                img_seen.add(im["url"])
                rec["images"].append(im)
    rec["text"] = "\n".join(lines)
    return rec


# ---------------------------------------------------------------------------
# S4: Elasticsearch `_msearch` NDJSON connector shape (joconde.js:11-75).


def build_request_body(cfg: ConnectorConfig, offset: int, limit: int) -> str:
    """Request body for POST-style connectors — the request-construction half
    of S4/S5 (the fixture corpus keys responses by URL, so batch mode never
    sends these; live POST mode would).

    * ``es_msearch``: the two-line NDJSON body — a preference header line
      then the query line with size/from spliced (joconde.js:44-51);
    * ``graphql``: offset/limit spliced into the query text
      (paris-musees.js:46-63 ``offset: ${this.currentOffset}, limit: ...``).
    """
    import json

    if cfg.body_format == "es_msearch":
        return (
            json.dumps({"preference": "res"})
            + "\n"
            + json.dumps({"query": {"bool": {"must": []}}, "size": limit,
                          "from": offset})
            + "\n"
        )
    if cfg.body_format == "graphql":
        return json.dumps(
            {"query": cfg.graphql_query.format(offset=offset, limit=limit)}
        )
    raise ValueError(f"no request body for body_format={cfg.body_format}")


def _msearch_hits(data: dict) -> tuple[int | None, list[dict]]:
    """``responses[0].hits`` traversal (joconde.js:57-60,78-79)."""
    try:
        hits = data["responses"][0]["hits"]
    except (KeyError, IndexError, TypeError):
        return None, []
    if not isinstance(hits, dict):
        return None, []
    total = hits.get("total")
    raw_hits = hits.get("hits")
    sources = [
        h["_source"]
        for h in (raw_hits if isinstance(raw_hits, list) else [])
        if isinstance(h, dict) and isinstance(h.get("_source"), dict)
    ]
    return (
        int(total)
        if isinstance(total, (int, float)) and not isinstance(total, bool)
        else None
    ), sources


def extract_search_es_msearch(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> tuple[int | None, list[str]]:
    """S4 search response → (total, record URLs).

    total = ``responses[0].hits.total`` (joconde.js:78); each hit's record
    URL resolves ``_source[record_id_key]`` against the notice base
    (joconde.js:137-141)."""
    import json

    try:
        data = json.loads(_decode(body, cfg.encoding))
    except ValueError:
        return None, []
    total, sources = _msearch_hits(data)
    urls: list[str] = []
    for src in sources:
        ref = src.get(cfg.record_id_key)
        if not isinstance(ref, (str, int, float)) or isinstance(ref, bool):
            continue
        u = canonicalize_url(
            f"{cfg.record_url_base}{ref}", base_url, cfg.drop_params
        )
        if u:
            urls.append(u)
    return total, urls


def _fold_fields(
    pairs: list[tuple[str, list[str]]],
    cfg: ConnectorConfig,
    title: str,
) -> tuple[list[tuple[str, list[str]]], dict[str, list[str]], list[str]]:
    """addField fold shared by the dict-record paths: P1 empty filter,
    scalar→array promotion by repeated label (record.js:14-37), optional U4
    value-dedup (musee-st-etienne.js:100-114)."""
    fields: list[tuple[str, list[str]]] = []
    by_label: dict[str, list[str]] = {}
    lines: list[str] = [title]
    for label, vals in pairs:
        clean = [v.strip() for v in vals if v is not None]
        clean = [v for v in clean if v]
        if not label or not clean:
            continue
        for v in clean:
            if cfg.dedup_values and v in by_label.get(label, []):
                continue  # U4: duplicate value skipped on fold
            lines.append(f"{label}\t{v}")
            if label in by_label:
                by_label[label].append(v)
            else:
                by_label[label] = [v]
                fields.append((label, by_label[label]))
    return fields, by_label, lines


def _num_str(v) -> str:
    """JS ``String(value)`` semantics for JSON numbers (joconde.js:145-156):
    integral floats print without the trailing '.0' (1.0 → '1'); Python's
    repr would emit '1.0' and diverge from the reference's field text."""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return repr(v)


def _scalar_pairs(record: dict, cfg: ConnectorConfig) -> list[tuple[str, list[str]]]:
    """Dict record → (label, values) pairs with reference key/type rules:
    scalars verbatim, arrays-of-scalars element-wise (joconde.js:145-156),
    objects skipped (P3), P6 key filters applied."""
    pairs: list[tuple[str, list[str]]] = []
    for key, value in record.items():
        if cfg.skip_key_containing and cfg.skip_key_containing in key:
            continue  # P6: '_'-keys (musee-st-etienne.js:76-77)
        if key in cfg.skip_keys:
            continue  # P6: out-of-band keys (unipa.js:57-59 'image')
        if isinstance(value, bool) or value is None:
            continue
        if isinstance(value, (int, float)):
            pairs.append((key, [_num_str(value)]))
        elif isinstance(value, str):
            pairs.append((key, [value]))
        elif isinstance(value, list):
            vals = [
                _num_str(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
                else v
                for v in value
                if isinstance(v, (str, int, float)) and not isinstance(v, bool)
            ]
            if vals:
                pairs.append((key, vals))
        # dicts: P3 drop (joconde.js:147 typeof value !== 'object')
    return pairs


def extract_detail_es_msearch(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> dict:
    """S4 single-record response (the size-1 related lookup shape,
    joconde.js:91-126) → record dict.

    Fields from ``_source`` scalar keys; images from the IMG array resolved
    against the fixture base (joconde.js:167-175); related inventory numbers
    harvested by regex from the free-text related_field (joconde.js:181-197)
    and resolved like record URLs — the before_parent_write policy then
    orders them ahead of the parent."""
    import json

    try:
        data = json.loads(_decode(body, cfg.encoding))
    except ValueError:
        data = {}
    _, sources = _msearch_hits(data)
    src = sources[0] if sources else {}
    title = str(src.get(cfg.record_id_key) or "").strip()
    fields, by_label, lines = _fold_fields(_scalar_pairs(src, cfg), cfg, title)

    images: list[dict] = []
    img_seen: set[str] = set()
    for part in src.get("IMG", []) or []:
        if not isinstance(part, str):
            continue
        u = canonicalize_url(part, base_url, cfg.drop_params)
        if u and u not in img_seen:
            img_seen.add(u)
            images.append(_image(u))

    related: list[str] = []
    hist = src.get(cfg.related_field)
    if isinstance(hist, str):
        for inv in re.findall(cfg.related_regex, hist):
            u = canonicalize_url(
                f"{cfg.record_url_base}{inv}", base_url, cfg.drop_params
            )
            if u and u not in related:
                related.append(u)

    keep = _content_keep(cfg, by_label)

    return {
        "title": title,
        "fields": fields,
        "images": images,
        "related": related,
        "text": "\n".join(lines),
        "keep": keep,
        "raw": None,
    }


# ---------------------------------------------------------------------------
# S5: GraphQL connector shape (paris-musees.js:46-95,204-520).


def _flatten_obj(obj, prefix: str = "") -> dict[str, object]:
    """flattenObject (utils.js:71-94): nested dicts → dotted keys; arrays are
    NOT descended (they stay as values); scalars pass through."""
    out: dict[str, object] = {}
    for k, v in obj.items():
        key = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(_flatten_obj(v, key))
        else:
            out[key] = v
    return out


def _graphql_entities(data: dict) -> tuple[int | None, list[dict]]:
    """``data.nodeQuery`` traversal with the P5 null-entity filter
    (paris-musees.js:100-107: entities can be null 'for some reason')."""
    try:
        nq = data["data"]["nodeQuery"]
    except (KeyError, TypeError):
        return None, []
    if not isinstance(nq, dict):
        return None, []
    total = nq.get("count")
    raw_ents = nq.get("entities")
    entities = [
        e for e in (raw_ents if isinstance(raw_ents, list) else [])
        if isinstance(e, dict)
    ]
    return (
        int(total)
        if isinstance(total, (int, float)) and not isinstance(total, bool)
        else None
    ), entities


def extract_search_graphql(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> tuple[int | None, list[str]]:
    """S5 search response → (count, record URLs from absolutePath)."""
    import json

    try:
        data = json.loads(_decode(body, cfg.encoding))
    except ValueError:
        return None, []
    total, entities = _graphql_entities(data)
    urls: list[str] = []
    for ent in entities:
        path = ent.get("absolutePath")
        u = canonicalize_url(
            path if isinstance(path, str) else None, base_url, cfg.drop_params
        )
        if u:
            urls.append(u)
    return total, urls


def extract_detail_graphql(
    body: bytes | str, base_url: str, cfg: ConnectorConfig = SYNTH
) -> dict:
    """S5 entity → record dict (paris-musees.js:113-202).

    * P4 flatten: nested entity → dotted-key fields (``Utils.flattenObject``,
      :126), scalars only (P3), P1 empty filter;
    * images from ``fieldVisuels[].entity`` with FULL metadata — id, url
      (vignette), title (name), description (fieldLegende), author
      (fieldCopyright), license (fieldImageDroits) (:172-192); dead
      thumbnail links skipped (:173-179);
    * the original entity survives as the ``raw`` blob (:164-165
      ``record.raw = recordData``).
    """
    import json

    raw_str = _decode(body, cfg.encoding)
    try:
        ent = json.loads(raw_str)
    except ValueError:
        ent = {}
    if not isinstance(ent, dict):
        ent = {}
    title = str(ent.get("title") or "").strip()

    visuals = ent.get("fieldVisuels") or []
    flat = _flatten_obj({k: v for k, v in ent.items() if k != "fieldVisuels"})
    fields, by_label, lines = _fold_fields(
        _scalar_pairs(flat, cfg), cfg, title
    )

    images: list[dict] = []
    img_seen: set[str] = set()
    for vis in visuals:
        e = vis.get("entity") if isinstance(vis, dict) else None
        if not isinstance(e, dict):
            continue
        vignette = e.get("vignette")
        if not isinstance(vignette, str) or "/styles/thumbnail/public" in vignette:
            continue  # dead-link thumbnails skipped (paris-musees.js:173-179)
        u = canonicalize_url(vignette, base_url, cfg.drop_params)
        if u and u not in img_seen:
            img_seen.add(u)
            images.append(
                _image(
                    u,
                    id=(str(e["entityId"]) if e.get("entityId") is not None
                        else None),
                    title=e.get("name"),
                    description=e.get("fieldLegende"),
                    author=e.get("fieldCopyright"),
                    license=e.get("fieldImageDroits"),
                )
            )

    related: list[str] = []
    for href in ent.get("related", []) or []:
        if not isinstance(href, str):
            continue  # same guard as the json/search extractors
        u = canonicalize_url(href, base_url, cfg.drop_params)
        if u:
            related.append(u)

    keep = _content_keep(cfg, by_label)

    return {
        "title": title,
        "fields": fields,
        "images": images,
        "related": related,
        "text": "\n".join(lines),
        "keep": keep,
        "raw": json.dumps(ent, sort_keys=True) if ent else None,
    }


# ---------------------------------------------------------------------------
# Spark-facing vectorized extractors (mapInPandas batch functions).

LINKS_OUT_SCHEMA = (
    "url string, total_count int, out_url string, out_idx int, kind string"
)


def extract_links_batch_for(cfg_map: dict[str, ConnectorConfig] | None):
    """Build the mapInPandas link extractor for a per-connector config map.

    The map travels inside the task closure (Python workers re-import the
    module, so a driver-side registry would be invisible to them). Input
    cols: url, body, connector_id; a connector missing from the map falls
    back to the synthetic default.
    """
    cfg_map = cfg_map or {}

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            cids = (
                pdf["connector_id"]
                if "connector_id" in pdf.columns
                else [None] * len(pdf)
            )
            for url, body, cid in zip(pdf["url"], pdf["body"], cids):
                cfg = cfg_map.get(cid, SYNTH)
                total, urls = extract_search(body, url, cfg)
                for i, u in enumerate(urls):
                    rows.append((url, total, u, i, "record"))
                if not urls:
                    rows.append((url, total, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["url", "total_count", "out_url", "out_idx", "kind"],
            )

    return _batch


def extract_links_batch(
    it: Iterator[pd.DataFrame], cfg: ConnectorConfig = SYNTH
) -> Iterator[pd.DataFrame]:
    """Single-config variant (input cols: url, body) — see
    ``extract_links_batch_for``."""
    yield from extract_links_batch_for({None: cfg})(it)


RECORD_OUT_COLS = [
    "url", "record_id", "text", "keep", "fields", "images",
    "related_urls", "raw",
]
RECORD_OUT_SCHEMA = (
    "url string, record_id string, text string, keep boolean, "
    "fields array<struct<label:string, values:array<string>>>, "
    "images array<struct<id:string, url:string, title:string, "
    "description:string, author:string, license:string>>, "
    "related_urls array<string>, raw string"
)


def extract_records_batch_for(cfg_map: dict[str, ConnectorConfig] | None):
    """Build the mapInPandas record extractor for a per-connector config map
    (input cols: url, body, connector_id)."""
    cfg_map = cfg_map or {}

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "url": [],
                "record_id": [],
                "text": [],
                "keep": [],
                "fields": [],
                "images": [],
                "related_urls": [],
                "raw": [],
            }
            cids = (
                pdf["connector_id"]
                if "connector_id" in pdf.columns
                else [None] * len(pdf)
            )
            for url, body, cid in zip(pdf["url"], pdf["body"], cids):
                cfg = cfg_map.get(cid, SYNTH)
                rec = extract_detail(body, url, cfg)
                out["url"].append(url)
                # versailles.js:128: record id from an extracted field
                # value; URL path segment otherwise (and as fallback)
                rid = None
                if cfg.record_id_label:
                    rid = next(
                        (
                            v[0]
                            for l, v in rec["fields"]
                            if l == cfg.record_id_label and v
                        ),
                        None,
                    )
                out["record_id"].append(
                    rid if rid else url.rstrip("/").rsplit("/", 1)[-1]
                )
                out["text"].append(rec["text"])
                out["keep"].append(rec["keep"])
                out["fields"].append(
                    [{"label": l, "values": v} for l, v in rec["fields"]]
                )
                out["images"].append(rec["images"])
                out["related_urls"].append(rec["related"])
                out["raw"].append(rec.get("raw"))
            yield pd.DataFrame(out)

    return _batch


# The fused round schema: the link columns, then the record columns. Link
# rows leave the record columns null; record rows leave the link columns
# null.
ROUND_OUT_COLS = ["url", "total_count", "out_url", "out_idx", *RECORD_OUT_COLS[1:]]
ROUND_OUT_SCHEMA = (
    "url string, total_count int, out_url string, out_idx int, "
    + RECORD_OUT_SCHEMA.removeprefix("url string, ")
)


def _round_rows(out: pd.DataFrame) -> pd.DataFrame:
    # absent columns are object columns of None, which Arrow converts to
    # nulls of any type (an all-NaN float column would not convert to
    # array/struct)
    n = len(out)
    return pd.DataFrame(
        {
            c: out[c].to_numpy() if c in out.columns else [None] * n
            for c in ROUND_OUT_COLS
        },
        columns=ROUND_OUT_COLS,
    )


def extract_round_batch(links_fn, records_fn):
    """Fuse a round's two extractors into one mapInPandas batch function
    (input cols: url, body, connector_id, kind; output ROUND_OUT_SCHEMA).

    Search pages go to ``links_fn`` (an ``extract_links_batch_for``
    function), every other page to ``records_fn`` (an
    ``extract_records_batch_for`` function), so one Python stage per round
    serves both halves.
    """

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            is_search = (pdf["kind"] == "search").to_numpy()
            cols = ["url", "body", "connector_id"]
            for rows, fn in (
                (pdf[is_search], links_fn),
                (pdf[~is_search], records_fn),
            ):
                if len(rows):
                    for out in fn(iter([rows[cols]])):
                        yield _round_rows(out)
            if not len(pdf):
                yield pd.DataFrame(columns=ROUND_OUT_COLS)

    return _batch
