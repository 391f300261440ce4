"""HTML → DOM tree construction on top of :mod:`html.parser`.

The reference parses with html5ever/kuchiki (``kuchiki::parse_html().one(..)``,
/root/reference/src/moz_readability/mod.rs:73).  No spec-conformant HTML5
parser library is available in this environment, so this module implements the
subset of WHATWG tree construction the extraction kernel and its test corpus
exercise:

* ``html`` / ``head`` / ``body`` synthesis (html5ever always produces them);
  head-only elements placed in ``<head>`` until body content starts; whitespace
  before the first content is dropped, post-``</body>`` content re-routed into
  body.
* Void elements; raw-text elements.  ``<noscript>`` is parsed as **raw text**
  (html5ever's default ``scripting_enabled=true``): the kernel depends on this
  — it re-parses ``noscript.text_contents()`` as a fragment (mod.rs:148-152).
* RCDATA (``title``/``textarea``): entities decoded, no tags.
* Implied end tags: ``<p>`` closed by block starts, ``li``/``dd``/``dt``,
  table row/cell closes, as in the spec's "has an element in scope" rules
  (simplified to what well-formed test documents need).
* Duplicate attributes: first one wins; names lowercased.
* Character references in data and attribute values are decoded.
"""

from __future__ import annotations

import html as html_mod
from html.parser import HTMLParser
from typing import Optional

from .node import ELEMENT, Node

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset(["script", "style", "noscript"])
RCDATA_ELEMENTS = frozenset(["title", "textarea"])
HEAD_ELEMENTS = frozenset(["meta", "title", "link", "base", "style"])

# Start tags that imply closing an open <p> (WHATWG "close a p element")
P_CLOSERS = frozenset(
    (
        "address article aside blockquote details dialog dd dir div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
        "hgroup hr main menu nav ol p pre section summary table ul"
    ).split()
)
# Elements that bound "button scope" lookups for the open-<p> check
SCOPE_BOUNDARIES = frozenset(
    ["html", "body", "table", "td", "th", "caption", "template", "button"]
)

# implied-end-tag (names, boundaries) pairs, hoisted out of the hot path
_LI_IMPLIED = (frozenset(["li"]), frozenset(["ul", "ol", "html", "body"]))
_DD_IMPLIED = (frozenset(["dd", "dt"]), frozenset(["dl", "html", "body"]))
_TR_IMPLIED = (frozenset(["tr", "td", "th"]), frozenset(["table", "html", "body"]))
_TD_IMPLIED = (frozenset(["td", "th"]), frozenset(["tr", "table", "html", "body"]))
_TBODY_IMPLIED = (
    frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    frozenset(["table", "html", "body"]),
)
_OPTION_IMPLIED = (frozenset(["option"]), frozenset(["select", "html", "body"]))
_HEADINGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.document = Node.new_document()
        self.html: Optional[Node] = None
        self.head: Optional[Node] = None
        self.body: Optional[Node] = None
        self.head_closed = False
        self.body_closed = False
        # open element stack, root-first; self.document is implicit
        self.stack: list[Node] = []
        self._raw_elem: Optional[Node] = None
        self._raw_mode: str = ""  # 'raw' | 'rcdata'
        self._raw_buf: list[str] = []

    # ---------- structure synthesis ----------
    def _ensure_html(self) -> Node:
        if self.html is None:
            self.html = Node.new_element("html")
            self.document.append(self.html)
            self.stack.append(self.html)
        return self.html

    def _ensure_head(self) -> Node:
        self._ensure_html()
        if self.head is None:
            self.head = Node.new_element("head")
            self.html.append(self.head)
        return self.head

    def _ensure_body(self) -> Node:
        self._ensure_html()
        if self.head is None:
            self._ensure_head()
        self.head_closed = True
        if self.body is None:
            self.body = Node.new_element("body")
            self.html.append(self.body)
            # body becomes the open insertion point above any stray stack state
            self.stack = [self.html, self.body]
        return self.body

    def _current(self) -> Node:
        if self.stack:
            return self.stack[-1]
        return self.document

    # ---------- raw text handling ----------
    def _start_raw(self, elem: Node, mode: str) -> None:
        self._raw_elem = elem
        self._raw_mode = mode
        self._raw_buf = []
        # private but stable CPython API: routes everything to handle_data
        # until the matching close tag
        self.set_cdata_mode(elem.name)

    def _end_raw(self) -> None:
        text = "".join(self._raw_buf)
        if self._raw_mode == "rcdata":
            text = html_mod.unescape(text)
        if text:
            self._raw_elem.append(Node.new_text(text))
        self._raw_elem = None
        self._raw_mode = ""
        self._raw_buf = []

    # ---------- implied end tags ----------
    def _close_p_if_open(self) -> None:
        for node in reversed(self.stack):
            if node.name == "p":
                while self.stack and self.stack[-1] is not node:
                    self.stack.pop()
                if self.stack:
                    self.stack.pop()
                return
            if node.name in SCOPE_BOUNDARIES:
                return

    def _pop_implied(self, names: frozenset[str], boundaries: frozenset[str]) -> None:
        for node in reversed(self.stack):
            if node.name in names:
                while self.stack and self.stack[-1] is not node:
                    self.stack.pop()
                if self.stack:
                    self.stack.pop()
                return
            if node.name in boundaries:
                return

    # ---------- HTMLParser hooks ----------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, Optional[str]]]) -> None:
        # both tokenizer drivers (stdlib HTMLParser and fastparse) deliver
        # tag and attribute names already lower-cased — no re-lowering here
        if self._raw_elem is not None:
            # shouldn't happen in cdata mode, but be safe
            self._raw_buf.append(self.get_starttag_text() or "")
            return

        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""

        if tag == "html":
            node = self._ensure_html()
            for k, v in attr_map.items():
                node.attributes.setdefault(k, v)
            return
        if tag == "head":
            self._ensure_head()
            return
        if tag == "body":
            node = self._ensure_body()
            for k, v in attr_map.items():
                node.attributes.setdefault(k, v)
            return

        # hand the freshly-built dict to the node (new_element would copy it)
        elem = Node(ELEMENT, name=tag)
        elem.attributes = attr_map

        if self.body is None and not self.head_closed and tag in HEAD_ELEMENTS:
            self._ensure_head().append(elem)
        elif self.body is None and not self.head_closed and tag in ("script", "noscript"):
            self._ensure_head().append(elem)
        else:
            if self.body is None or (self.body_closed and tag != "html"):
                self._ensure_body()
                self.body_closed = False if not self.body_closed else self.body_closed
            # implied closes
            if tag in P_CLOSERS:
                self._close_p_if_open()
            if tag == "li":
                self._pop_implied(*_LI_IMPLIED)
            elif tag in ("dd", "dt"):
                self._pop_implied(*_DD_IMPLIED)
            elif tag == "tr":
                self._pop_implied(*_TR_IMPLIED)
            elif tag in ("td", "th"):
                self._pop_implied(*_TD_IMPLIED)
            elif tag in ("thead", "tbody", "tfoot"):
                self._pop_implied(*_TBODY_IMPLIED)
            elif tag == "option":
                self._pop_implied(*_OPTION_IMPLIED)
            self._current().append(elem)

        if tag in RAWTEXT_ELEMENTS:
            self._start_raw(elem, "raw")
            return
        if tag in RCDATA_ELEMENTS:
            self._start_raw(elem, "rcdata")
            return
        if tag not in VOID_ELEMENTS:
            self.stack.append(elem)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, Optional[str]]]) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
        else:
            # html5: "/>" on a non-void element is just a start tag
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if self._raw_elem is not None:
            if tag == self._raw_elem.name:
                self._end_raw()
            else:
                self._raw_buf.append(f"</{tag}>")
            return
        if tag in VOID_ELEMENTS:
            return
        if tag == "head":
            self.head_closed = True
            while self.stack and self.stack[-1] is not self.html:
                self.stack.pop()
            return
        if tag == "body":
            self.body_closed = True
            return
        if tag == "html":
            self.body_closed = True
            return
        for node in reversed(self.stack):
            if node.name == tag:
                while self.stack and self.stack[-1] is not node:
                    self.stack.pop()
                if self.stack:
                    self.stack.pop()
                return
        # WHATWG: any </h1>..</h6> closes the nearest open heading element
        if tag in _HEADINGS:
            for node in reversed(self.stack):
                if node.name in _HEADINGS:
                    while self.stack and self.stack[-1] is not node:
                        self.stack.pop()
                    if self.stack:
                        self.stack.pop()
                    return
                if node.name in SCOPE_BOUNDARIES:
                    break
        # unmatched end tag: ignored

    def handle_data(self, data: str) -> None:
        if self._raw_elem is not None:
            self._raw_buf.append(data)
            return
        if not data:
            return
        if self.body is None:
            if data.strip() == "":
                if self.html is not None and self.head is not None and self.head_closed:
                    # whitespace between </head> and <body> attaches to <html>
                    self.html.append(Node.new_text(data))
                # otherwise dropped ("before html"/"before head"/"in head")
                return
            # html5ever's "before head"/"after head" modes drop the leading
            # whitespace of the run that forces body creation
            data = data.lstrip()
            self._ensure_body()
        cur = self._current()
        if cur is self.html or cur is self.document:
            cur = self._ensure_body()
        if cur.last_child is not None and cur.last_child.type == "text":
            cur.last_child.text += data
        else:
            cur.append(Node.new_text(data))

    def handle_comment(self, data: str) -> None:
        if self._raw_elem is not None:
            self._raw_buf.append(f"<!--{data}-->")
            return
        if self.html is None:
            self.document.append(Node.new_comment(data))
        else:
            self._current().append(Node.new_comment(data))

    def handle_decl(self, decl: str) -> None:
        pass  # doctype dropped (kuchiki keeps a Doctype node; kernel never sees it)

    def unknown_decl(self, data: str) -> None:
        pass

    def close(self) -> None:
        super().close()
        if self._raw_elem is not None:
            self._end_raw()
        # a document with no content still gets the full scaffold
        self._ensure_body()


def parse_html(html_str: str, fast: bool = True) -> Node:
    """Parse a full document; returns the Document node (root).

    ``fast`` selects the single-shot tokenizer (fastparse.py, default) or
    the stdlib ``HTMLParser`` driver; both produce identical trees
    (tests/test_fastparse_diff.py)."""
    builder = _TreeBuilder()
    if fast:
        from .fastparse import fast_feed

        fast_feed(builder, html_str)
    else:
        builder.feed(html_str)
    builder.close()
    return builder.document


class _FragmentBuilder(HTMLParser):
    """Fragment parser (kuchiki ``parse_fragment`` with a div context,
    mod.rs:148-152): returns a container element holding the parsed nodes."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node.new_element("html")
        self.stack: list[Node] = [self.root]
        self._raw_elem: Optional[Node] = None
        self._raw_mode = ""
        self._raw_buf: list[str] = []

    def _current(self) -> Node:
        return self.stack[-1]

    def handle_starttag(self, tag: str, attrs: list[tuple[str, Optional[str]]]) -> None:
        tag = tag.lower()
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            k = k.lower()
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""
        elem = Node.new_element(tag, attr_map)
        self._current().append(elem)
        if tag in RAWTEXT_ELEMENTS:
            self._raw_elem = elem
            self._raw_mode = "raw"
            self._raw_buf = []
            self.set_cdata_mode(tag)
            return
        if tag in RCDATA_ELEMENTS:
            self._raw_elem = elem
            self._raw_mode = "rcdata"
            self._raw_buf = []
            self.set_cdata_mode(tag)
            return
        if tag not in VOID_ELEMENTS:
            self.stack.append(elem)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, Optional[str]]]) -> None:
        self.handle_starttag(tag, attrs)
        tag = tag.lower()
        if tag not in VOID_ELEMENTS and tag not in RAWTEXT_ELEMENTS and tag not in RCDATA_ELEMENTS:
            if self.stack[-1].name == tag:
                self.stack.pop()

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if self._raw_elem is not None:
            if tag == self._raw_elem.name:
                text = "".join(self._raw_buf)
                if self._raw_mode == "rcdata":
                    text = html_mod.unescape(text)
                if text:
                    self._raw_elem.append(Node.new_text(text))
                self._raw_elem = None
            else:
                self._raw_buf.append(f"</{tag}>")
            return
        if tag in VOID_ELEMENTS:
            return
        for node in reversed(self.stack[1:]):
            if node.name == tag:
                while self.stack[-1] is not node:
                    self.stack.pop()
                self.stack.pop()
                return
        if tag in _HEADINGS:
            for node in reversed(self.stack[1:]):
                if node.name in _HEADINGS:
                    while self.stack[-1] is not node:
                        self.stack.pop()
                    self.stack.pop()
                    return

    def handle_data(self, data: str) -> None:
        if self._raw_elem is not None:
            self._raw_buf.append(data)
            return
        if not data:
            return
        cur = self._current()
        if cur.last_child is not None and cur.last_child.type == "text":
            cur.last_child.text += data
        else:
            cur.append(Node.new_text(data))

    def handle_comment(self, data: str) -> None:
        self._current().append(Node.new_comment(data))


def parse_fragment(html_str: str, fast: bool = True) -> Node:
    builder = _FragmentBuilder()
    if fast:
        from .fastparse import fast_feed

        fast_feed(builder, html_str)
    else:
        builder.feed(html_str)
    builder.close()
    if builder._raw_elem is not None:
        text = "".join(builder._raw_buf)
        if builder._raw_mode == "rcdata":
            text = html_mod.unescape(text)
        if text:
            builder._raw_elem.append(Node.new_text(text))
        builder._raw_elem = None
    return builder.root
