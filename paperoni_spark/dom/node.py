"""A minimal mutable DOM replicating the tree semantics the extraction kernel
depends on.

The reference kernel (``/root/reference/src/moz_readability/mod.rs``) is written
against kuchiki's rc-tree.  Its observable behavior depends on some very
specific properties of that tree, all replicated here:

* **Pointer-identity equality** (kuchiki ``NodeRef: PartialEq`` is ``Rc::ptr_eq``)
  — we use Python object identity (``is`` / ``id``).
* **Eager-successor traversal**: kuchiki's ``Traverse`` iterator computes the
  *next* edge at the time ``next()`` is called, *before* the caller mutates the
  tree.  Several kernel loops (``replace_brs``, ``clean_conditionally``, the
  ``grab_article`` walk) detach nodes mid-iteration and their termination
  behavior depends on this exact timing.  ``traverse()`` below reproduces it.
* **``detach`` clears all links** (parent, prev/next sibling) so traversal from
  a detached node dead-ends — again observable in kernel loop termination.
* **Sorted attribute maps** (kuchiki stores attributes in a ``BTreeMap``):
  iteration over attributes is always in sorted-by-name order.
* ``select(sel)`` is *inclusive* of the start node (kuchiki
  ``inclusive_descendants().select``); ``descendants()`` is exclusive.
  Only tag-name selectors (single or comma-separated) are needed by the kernel.
* ``text_contents()`` concatenates all descendant Text node data with no
  separators (comments and element tags contribute nothing).
"""

from __future__ import annotations

from typing import Iterator, Optional

ELEMENT = "element"
TEXT = "text"
COMMENT = "comment"
DOCUMENT = "document"


class Node:
    __slots__ = (
        "type",
        "name",
        "attributes",
        "text",
        "parent",
        "first_child",
        "last_child",
        "prev_sibling",
        "next_sibling",
        "is_element",
        "is_text",
    )

    def __init__(self, type_: str, name: str = "", text: str = ""):
        self.type = type_
        self.name = name
        # plain dict; all iteration goes through sorted_attr_items() to mirror
        # kuchiki's BTreeMap ordering
        self.attributes: dict[str, str] = {}
        self.text = text
        self.parent: Optional[Node] = None
        self.first_child: Optional[Node] = None
        self.last_child: Optional[Node] = None
        self.prev_sibling: Optional[Node] = None
        self.next_sibling: Optional[Node] = None
        # node type never changes → plain attributes beat property calls in
        # the kernel's hot predicates
        self.is_element = type_ == ELEMENT
        self.is_text = type_ == TEXT

    # ---------- constructors ----------
    @staticmethod
    def new_element(name: str, attrs: Optional[dict[str, str]] = None) -> "Node":
        n = Node(ELEMENT, name=name)
        if attrs:
            n.attributes.update(attrs)
        return n

    @staticmethod
    def new_text(text: str) -> "Node":
        return Node(TEXT, text=text)

    @staticmethod
    def new_comment(text: str) -> "Node":
        return Node(COMMENT, text=text)

    @staticmethod
    def new_document() -> "Node":
        return Node(DOCUMENT)

    # ---------- basic predicates ----------
    def sorted_attr_items(self) -> list[tuple[str, str]]:
        return sorted(self.attributes.items())

    # ---------- mutation (kuchiki tree.rs semantics) ----------
    def detach(self) -> None:
        prev, nxt, parent = self.prev_sibling, self.next_sibling, self.parent
        if prev is not None:
            prev.next_sibling = nxt
        elif parent is not None:
            parent.first_child = nxt
        if nxt is not None:
            nxt.prev_sibling = prev
        elif parent is not None:
            parent.last_child = prev
        self.parent = None
        self.prev_sibling = None
        self.next_sibling = None

    def append(self, child: "Node") -> None:
        child.detach()
        child.parent = self
        if self.last_child is not None:
            self.last_child.next_sibling = child
            child.prev_sibling = self.last_child
            self.last_child = child
        else:
            self.first_child = child
            self.last_child = child

    def prepend(self, child: "Node") -> None:
        child.detach()
        child.parent = self
        if self.first_child is not None:
            self.first_child.prev_sibling = child
            child.next_sibling = self.first_child
            self.first_child = child
        else:
            self.first_child = child
            self.last_child = child

    def insert_before(self, new_sibling: "Node") -> None:
        new_sibling.detach()
        parent = self.parent
        assert parent is not None, "insert_before on detached node"
        new_sibling.parent = parent
        prev = self.prev_sibling
        new_sibling.prev_sibling = prev
        new_sibling.next_sibling = self
        self.prev_sibling = new_sibling
        if prev is not None:
            prev.next_sibling = new_sibling
        else:
            parent.first_child = new_sibling

    def insert_after(self, new_sibling: "Node") -> None:
        new_sibling.detach()
        parent = self.parent
        assert parent is not None, "insert_after on detached node"
        new_sibling.parent = parent
        nxt = self.next_sibling
        new_sibling.next_sibling = nxt
        new_sibling.prev_sibling = self
        self.next_sibling = new_sibling
        if nxt is not None:
            nxt.prev_sibling = new_sibling
        else:
            parent.last_child = new_sibling

    # ---------- traversal ----------
    def children(self) -> Iterator["Node"]:
        """Live child iterator: the successor is captured when each item is
        produced (matching kuchiki's ``Siblings`` iterator timing)."""
        nxt = self.first_child
        while nxt is not None:
            cur = nxt
            nxt = cur.next_sibling
            yield cur

    def child_list(self) -> list["Node"]:
        return list(self.children())

    def traverse(self, inclusive: bool = True) -> Iterator[tuple[str, "Node"]]:
        """Yield ('start'|'end', node) edges, DFS.

        Replicates kuchiki ``Traverse``: the successor of an edge is computed
        *before* the edge is yielded, so mutations performed by the consumer
        after receiving an edge do not affect which edge comes next — but do
        affect everything after that one.
        """
        root = self
        if inclusive:
            next_edge: Optional[tuple[str, Node]] = ("start", root)
        else:
            fc = root.first_child
            next_edge = ("start", fc) if fc is not None else None
        while next_edge is not None:
            edge = next_edge
            kind, node = edge
            if kind == "start":
                if node.first_child is not None:
                    next_edge = ("start", node.first_child)
                else:
                    next_edge = ("end", node)
            else:
                if node is root:
                    next_edge = None
                elif node.next_sibling is not None:
                    next_edge = ("start", node.next_sibling)
                elif node.parent is not None:
                    next_edge = ("end", node.parent)
                else:
                    next_edge = None
            yield edge

    # The three walkers below inline the traverse() edge loop (same
    # eager-successor timing) to avoid stacked generator overhead in the
    # kernel's hottest path.
    def _walk(self, inclusive: bool, elements_only: bool) -> Iterator["Node"]:
        root = self
        node = root if inclusive else root.first_child
        if node is None:
            return
        start = True
        while True:
            # successor computed BEFORE yielding (eager-successor timing)
            if start:
                nxt = node.first_child
                if nxt is not None:
                    nstart = True
                else:
                    nxt, nstart = node, False
            elif node is root:
                nxt = None
            else:
                nxt = node.next_sibling
                if nxt is not None:
                    nstart = True
                else:
                    nxt = node.parent
                    nstart = False
            if start and (not elements_only or node.type == ELEMENT):
                yield node
            if nxt is None:
                return
            node, start = nxt, nstart

    def inclusive_descendants(self) -> Iterator["Node"]:
        return self._walk(True, False)

    def descendants(self) -> Iterator["Node"]:
        return self._walk(False, False)

    def descendant_elements(self, inclusive: bool = True) -> Iterator["Node"]:
        return self._walk(inclusive, True)

    def ancestors(self) -> Iterator["Node"]:
        """Parent chain, exclusive of self (kuchiki ``ancestors()``)."""
        node = self.parent
        while node is not None:
            yield node
            node = node.parent

    # ---------- selection ----------
    # The kernel only uses tag-name selectors (single or comma-separated);
    # simple compound selectors (tag#id, .class, tag.class) are supported for
    # the ported reference test-suite.
    def select(self, selector: str, inclusive: bool = True) -> Iterator["Node"]:
        matchers = _parse_selector(selector)
        if matchers.__class__ is frozenset:  # fast path: tag-name set
            # inlined edge walk (same eager-successor timing as traverse())
            root = self
            node = root if inclusive else root.first_child
            if node is None:
                return
            start = True
            while True:
                if start:
                    nxt = node.first_child
                    if nxt is not None:
                        nstart = True
                    else:
                        nxt, nstart = node, False
                elif node is root:
                    nxt = None
                else:
                    nxt = node.next_sibling
                    if nxt is not None:
                        nstart = True
                    else:
                        nxt = node.parent
                        nstart = False
                if start and node.type == ELEMENT and node.name in matchers:
                    yield node
                if nxt is None:
                    return
                node, start = nxt, nstart
            return
        for node in self.descendant_elements(inclusive=inclusive):
            for tag, id_, classes in matchers:
                if tag is not None and node.name != tag:
                    continue
                if id_ is not None and node.attributes.get("id") != id_:
                    continue
                if classes:
                    cls = node.attributes.get("class")
                    if cls is None:
                        continue
                    cls_set = cls.split()
                    if not all(c in cls_set for c in classes):
                        continue
                yield node
                break

    def select_list(self, selector: str, inclusive: bool = True) -> list["Node"]:
        return list(self.select(selector, inclusive=inclusive))

    def count_tags(self, names: frozenset, inclusive: bool = True) -> dict:
        """Count descendant elements per tag name in ONE walk — equivalent to
        len(select_list(n)) for each name, for mutation-free callers."""
        counts = dict.fromkeys(names, 0)
        for node in self._walk(inclusive, True):
            if node.name in names:
                counts[node.name] += 1
        return counts

    def select_first(self, selector: str) -> Optional["Node"]:
        for node in self.select(selector):
            return node
        return None

    # ---------- text ----------
    def text_contents(self) -> str:
        if self.type == TEXT:
            return self.text
        out: list[str] = []
        append = out.append
        stack = [self.first_child]
        while stack:
            n = stack.pop()
            while n is not None:
                if n.type == TEXT:
                    append(n.text)
                elif n.first_child is not None:
                    stack.append(n.next_sibling)
                    n = n.first_child
                    continue
                n = n.next_sibling
        return "".join(out)

    # ---------- debugging ----------
    def to_html(self) -> str:
        """Serializer for tests/debugging (not the span emitter)."""
        from .serializer import serialize

        return serialize(self)

    def __repr__(self) -> str:  # pragma: no cover
        if self.type == ELEMENT:
            return f"<Node element <{self.name}> attrs={self.attributes}>"
        if self.type == TEXT:
            return f"<Node text {self.text!r}>"
        return f"<Node {self.type}>"


_SELECTOR_CACHE: dict[str, object] = {}
_SIMPLE_RE = __import__("re").compile(
    r"^([a-zA-Z][a-zA-Z0-9-]*)?(?:#([\w-]+))?((?:\.[\w-]+)*)$"
)


def _parse_selector(selector: str):
    cached = _SELECTOR_CACHE.get(selector)
    if cached is not None:
        return cached
    parts = [s.strip() for s in selector.split(",")]
    if all(_SIMPLE_RE.match(p) and "#" not in p and "." not in p for p in parts):
        result: object = frozenset(p.lower() for p in parts)
    else:
        matchers = []
        for p in parts:
            m = _SIMPLE_RE.match(p)
            if m is None:
                raise ValueError(f"unsupported selector: {p!r}")
            tag = m.group(1).lower() if m.group(1) else None
            id_ = m.group(2)
            classes = [c for c in (m.group(3) or "").split(".") if c]
            matchers.append((tag, id_, classes))
        result = tuple(matchers)
    _SELECTOR_CACHE[selector] = result
    return result
