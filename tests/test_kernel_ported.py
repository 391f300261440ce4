"""Pytest port of the reference kernel unit tests.

Each test mirrors a ``#[test]`` in paperoni's src/moz_readability/mod.rs
(test module at mod.rs:2174-4015), pinning operator semantics for the
span-equality contract.  Fixture HTML is paperoni's test_html/simple.html,
carried verbatim as ``spans.fixtures.FX_SIMPLE``; assertions are 1:1.
"""

from __future__ import annotations

import numpy as np
import pytest

from paperoni_spark.dom import Node, parse_fragment
from paperoni_spark.kernel.readability import (
    FLAG_CLEAN_CONDITIONALLY,
    FLAG_STRIP_UNLIKELYS,
    FLAG_WEIGHT_CLASSES,
    READABILITY_SCORE,
    Readability,
)
from paperoni_spark.spans.fixtures import FX_SIMPLE

TEST_HTML = FX_SIMPLE

f32 = np.float32


def count(it) -> int:
    return sum(1 for _ in it)


def following_elements(node: Node):
    n = node.next_sibling
    while n is not None:
        if n.is_element:
            yield n
        n = n.next_sibling


# mod.rs:2187-2202
def test_unwrap_no_script_tags():
    doc = Readability(TEST_HTML)
    assert count(doc.root_node.select("img")) == 3
    doc.unwrap_no_script_tags()
    assert count(doc.root_node.select("img")) == 2

    updated_img = doc.root_node.select_first("img#lazy-load")
    assert updated_img is not None
    assert "data-old-src" in updated_img.attributes
    assert updated_img.attributes.get("data-old-src") == "lazy-load.png"
    assert updated_img.attributes.get("src") == "eager-load.png"


# mod.rs:2204-2230
def test_is_single_image():
    doc = Readability(TEST_HTML)
    img = doc.root_node.select_first("img")
    assert Readability.is_single_image(img) is True

    noscript = doc.root_node.select_first("noscript")
    assert Readability.is_single_image(noscript) is False

    div = doc.root_node.select_first("div.invalid-elems")
    assert Readability.is_single_image(div) is False

    frag = parse_fragment(noscript.text_contents().strip())
    assert Readability.is_single_image(frag) is True


# mod.rs:2232-2241
def test_remove_scripts():
    doc = Readability(TEST_HTML)
    assert count(doc.root_node.select("noscript")) == 1
    doc.remove_scripts()
    assert count(doc.root_node.select("noscript")) == 0


# mod.rs:2243-2279
def test_next_element():
    html_str = """
         <p id="a">This is a node</p>
         <!-- Commented content  -->
         <p id="b">This is another node. The next line is just whitespace</p>

         This is standalone text
         <p> Some <span>more</span> text</p>"""
    doc = Readability(html_str)
    p = doc.root_node.select_first("#a")
    assert Readability.next_element(p, False) is p
    assert p.attributes.get("id") == "a"

    nxt = Readability.next_element(p.next_sibling, False)
    assert nxt.attributes.get("id") == "b"

    nxt = Readability.next_element(nxt.next_sibling, False)
    assert nxt.is_text
    assert nxt.text_contents().strip() == "This is standalone text"

    assert Readability.next_element(None, False) is None


# mod.rs:2281-2316
def test_is_phrasing_content():
    html_str = r"""
        Some text node
        <b>This is a phrasing content node</b>
        <p>This is not a phrasing content node</p>
        <a href="\#"><i>This is also a phrasing content</i></a>
        <a href="\#"><p>This is not a phrasing content</p></a>
        """
    doc = Readability(html_str)
    body = doc.root_node.select_first("body")
    node = body.first_child
    assert node.is_text
    assert Readability.is_phrasing_content(node) is True

    node = node.next_sibling
    assert node.name == "b"
    assert Readability.is_phrasing_content(node) is True

    node = node.next_sibling.next_sibling
    assert node.name == "p"
    assert Readability.is_phrasing_content(node) is False

    node = node.next_sibling.next_sibling
    assert node.name == "a"
    assert Readability.is_phrasing_content(node) is True

    node = node.next_sibling.next_sibling
    assert node.name == "a"
    assert Readability.is_phrasing_content(node) is False


# mod.rs:2318-2352
def test_is_whitespace():
    html_str = """
        <p>Definitely not whitespace</p>
        I am also not whitespace
        <p>     </p>
        <br>
        """
    doc = Readability(html_str)
    body = doc.root_node.select_first("body")
    node = body.first_child
    assert node.name == "p"
    assert Readability.is_whitespace(node) is False

    node = node.next_sibling
    assert node.is_text
    assert Readability.is_whitespace(node) is False

    node = node.next_sibling
    assert node.name == "p"
    assert Readability.is_whitespace(node.first_child) is True

    node = node.next_sibling
    assert node.is_text
    assert Readability.is_whitespace(node) is True

    node = node.next_sibling
    assert node.name == "br"
    assert Readability.is_whitespace(node) is True


# mod.rs:2354-2379
def test_set_node_tag():
    html_str = """
        <div id="target" class="some random class" tabindex="0"><p>Child 1</p><p>Child 2</p></div>
        <div id="not-the-target">The div above is being replaced</div>
        """
    doc = Readability(html_str)
    target = doc.root_node.select_first("#target")
    children_count = count(doc.root_node.children())
    target_children_count = count(target.children())

    assert target.name == "div"
    new_node = Readability.set_node_tag(target, "section")

    assert count(doc.root_node.children()) == children_count
    target = doc.root_node.select_first("#target")
    assert target is new_node
    assert target.name == "section"
    assert count(target.children()) == target_children_count
    assert len(target.attributes) == 3
    assert doc.root_node.select_first("div#target") is None


# mod.rs:2381-2403
def test_replace_node_tags():
    html_str = """
        <div id="replace-p">
          <p>Tag 1</p><p>Tag 2</p><p>Tag 3</p>
        </div>
        """
    doc = Readability(html_str)
    parent = doc.root_node.select_first("div#replace-p")
    parent_child_count = count(parent.children())
    for node in parent.select("p"):
        Readability.set_node_tag(node, "span")
    assert count(parent.children()) == parent_child_count
    assert count(parent.select("p")) == 0
    assert count(parent.select("span")) == 3


# mod.rs:2405-2445
def test_replace_brs():
    html_str = """
        <div>foo<br>bar<br> <br><br>abc</div>
        """
    doc = Readability(html_str)
    div = doc.root_node.select_first("div")
    assert count(div.select("br")) == 4
    assert count(div.select("p")) == 0

    doc.replace_brs()
    assert count(div.select("br")) == 1
    assert count(div.select("p")) == 1
    p_node = div.select_first("p")
    assert p_node.text_contents() == "abc"

    html_str = """
        <p>foo<br>bar<br> <br><br>abc</p>
        """
    doc = Readability(html_str)
    p = doc.root_node.select_first("p")
    assert count(p.select("br")) == 4
    assert count(doc.root_node.select("div")) == 0

    doc.replace_brs()
    assert count(doc.root_node.select("br")) == 1
    assert count(doc.root_node.select("div")) == 1
    assert count(doc.root_node.select("p")) == 1
    p_node = doc.root_node.select_first("p")
    assert p_node.text_contents() == "abc"


# mod.rs:2447-2472
def test_prep_document():
    html_str = """
        <!DOCTYPE html>
        <html>
          <head>
            <style>div {padding: 20px; border-bottom: 2px solid black; }</style>
          </head>
          <body>
            <font face="Times New Roman" size="10">Times New Roman</font>
            <div>foo<br>bar<br> <br><br>abc</div>
          </body>
        </html>
        """
    doc = Readability(html_str)
    doc.prep_document()
    assert count(doc.root_node.select("style")) == 0
    assert count(doc.root_node.select("font")) == 0
    assert count(doc.root_node.select("p")) == 1
    assert count(doc.root_node.select("br")) == 1


# mod.rs:2474-2504
def test_inline_css_str_to_map():
    css_str = (
        "display: flex; height: 200px; width: 250px; justify-content: center; "
        "align-items: center; border: 2px solid black"
    )
    assert Readability.inline_css_str_to_map(css_str) == {
        "display": "flex",
        "height": "200px",
        "width": "250px",
        "justify-content": "center",
        "align-items": "center",
        "border": "2px solid black",
    }
    assert Readability.inline_css_str_to_map(
        "color: red;background-image: url('data:image/jpeg;base64,/wgARCAALABQDASIAAhEBAxEB/8QAFwABAQEBAAAAAAAAAAAAAAAAAgADBP/')"
    ) == {
        "color": "red",
        "background-image": "url('data:image/jpeg;base64,/wgARCAALABQDASIAAhEBAxEB/8QAFwABAQEBAAAAAAAAAAAAAAAAAgADBP/')",
    }
    assert Readability.inline_css_str_to_map(" \n \t \r") == {}
    assert Readability.inline_css_str_to_map("color") == {}
    assert Readability.inline_css_str_to_map("color: red;height: 300px;width") == {
        "color": "red",
        "height": "300px",
    }


# mod.rs:2506-2557
def test_is_probably_visible():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p id="visible">Lorem ipsum dolores</p>
            <div id="hidden-div" style="display: none">
              <p>This is hidden and so is the parent</p>
            </div>
            <input value="Some good CSRF token" hidden>
            <div id="hidden-aria" style="display: flex;" aria-hidden="true">
              <p>This is not considered visible</p>
            </div>
            <div id="visible-aria" style="display: flex;" aria-hidden="false">
              <p>This is considered visible</p>
            </div>
            <img src="./some-img.png" class="fallback-image">
            <div id="visible-div" style="display: block" class="visible" aria-hidden="false">
              <p>This is fully visible</p>
            </div>
          </body>
        </html>
      """
    doc = Readability(html_str)
    assert Readability.is_probably_visible(doc.root_node.select_first("p#visible"))
    assert not Readability.is_probably_visible(
        doc.root_node.select_first("div#hidden-div")
    )
    assert not Readability.is_probably_visible(doc.root_node.select_first("input"))
    assert not Readability.is_probably_visible(
        doc.root_node.select_first("div#hidden-aria")
    )
    assert Readability.is_probably_visible(
        doc.root_node.select_first("div#visible-aria")
    )
    assert Readability.is_probably_visible(doc.root_node.select_first("img"))
    assert Readability.is_probably_visible(
        doc.root_node.select_first("div#visible-div")
    )


# mod.rs:2559-2596
def test_check_byline():
    html_str = """
        <!DOCTYPE html>
        <html>
        <body>
          <p class="byline description" id="author">
This test is used to find out whether a given node is a byline. This works by checking whether
a node has a rel attribute with "author" as its value, or if "author"
is part of its value in the itemprop attribute. If neither is the case then it checks whether the classes and id
of the node match a regex of a potential byline. If any condition is met, then the content must be less than 100
characters. For that reason, this <p> tag could not be a byline because it's too long.
          </p>
          <p class="author">A Paperoni maintainer</p>
          <p class="authors not-byline"></p>
          <p rel="author">Maintainer of Paperoni</p>
        </body>
        </html>
        """
    doc = Readability(html_str)
    assert doc.byline is None
    p1 = doc.root_node.select_first("p.byline")
    p2 = doc.root_node.select_first("p.author")
    p3 = doc.root_node.select_first("p.not-byline")
    p4 = next(
        p for p in doc.root_node.select("p") if p.attributes.get("rel") == "author"
    )
    assert doc.check_byline(p1, "byline description author") is False
    assert doc.check_byline(p2, "author") is True
    assert doc.check_byline(p3, "authors not-byline") is False
    assert doc.byline == "A Paperoni maintainer"
    # false because a byline was already found
    assert doc.check_byline(p4, "") is False


_WALK_HTML = """
        <!DOCTYPE html>
        <html>
          <body>
            <div id="body-child-1">
              <p id="start">Foobar content</p>
              <div id="start-sib">
                <span>First child</span>
              </div>
            </div>
            <div id="body-child-2"><span>This will not be reached</p></div>
            <p id="body-child-last">Last element</p>
          </body>
        </html>
        """


# mod.rs:2598-2642
def test_get_next_node():
    doc = Readability(_WALK_HTML)
    node = doc.root_node.select_first("p#start")
    nxt = Readability.get_next_node(node, False)
    assert nxt is not None and nxt.attributes.get("id") == "start-sib"

    nxt = Readability.get_next_node(nxt, False)
    assert nxt is not None and nxt.name == "span"

    nxt = Readability.get_next_node(nxt, False)
    assert nxt is not None and nxt.attributes.get("id") == "body-child-2"

    nxt = Readability.get_next_node(nxt, True)
    assert nxt is not None and nxt.attributes.get("id") == "body-child-last"

    assert Readability.get_next_node(nxt, True) is None


# mod.rs:2644-2674
def test_remove_and_get_next():
    doc = Readability(_WALK_HTML)
    node = doc.root_node.select_first("div#body-child-1")
    p_node = Readability.get_next_node(node, False)
    nxt = Readability.remove_and_get_next(p_node)
    assert nxt is not None and nxt.attributes.get("id") == "start-sib"
    assert doc.root_node.select_first("p#start") is None


# mod.rs:2676-2714
def test_has_ancestor_tag():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <div>
              <main>
                <p>
                  <span>Target node</span>
                </p>
              </main>
            </div>
          </body>
        </html>
        """
    doc = Readability(html_str)
    target = doc.root_node.select_first("span")
    assert Readability.has_ancestor_tag(target, "div", None, None) is True
    assert Readability.has_ancestor_tag(target, "div", 1, None) is False
    assert (
        Readability.has_ancestor_tag(
            target, "div", 5, lambda n: "class" in n.attributes
        )
        is False
    )


# mod.rs:2716-2761
def test_is_element_without_content():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p>Node with content</p><!-- A comment node which is regarded as not having content -->
            <p id="empty"></p>
            <div id="contentful">
              <p>
                <span>Target node</span>
              </p>
            </div>
            <div id="no-content"><br><br><br><br><br><br><hr><hr><br></div>
          </body>
        </html>
        """
    doc = Readability(html_str)
    target = doc.root_node.select_first("p")
    assert Readability.is_element_without_content(target) is False

    target = target.next_sibling
    assert target.type == "comment"
    assert Readability.is_element_without_content(target) is False

    assert (
        Readability.is_element_without_content(doc.root_node.select_first("p#empty"))
        is True
    )
    assert (
        Readability.is_element_without_content(
            doc.root_node.select_first("div#contentful")
        )
        is False
    )
    assert (
        Readability.is_element_without_content(
            doc.root_node.select_first("div#no-content")
        )
        is True
    )


# mod.rs:2763-2808
def test_has_single_tag_inside_element():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p id="one">No element tags here</p>
            <p id="two"><span>The p tag has only one tag</span></p>
            <p id="three">
              <span>Target node</span>
              <span>
                The parent has multiple children
              </span>
            </p>
            <p id="four">
              The text here means this div doesn't have a single tag
              <span>Target node</span>
            </p>
          </body>
        </html>
        """
    doc = Readability(html_str)
    get = lambda sel: doc.root_node.select_first(sel)
    assert Readability.has_single_tag_inside_element(get("p#one"), "span") is False
    assert Readability.has_single_tag_inside_element(get("p#two"), "span") is True
    assert Readability.has_single_tag_inside_element(get("p#three"), "span") is False
    assert Readability.has_single_tag_inside_element(get("p#four"), "span") is False


# mod.rs:2810-2830
def test_get_inner_text():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p>The quick brown fox jumps       over the lazy dog</p>
           </body>
        </html>
         """
    doc = Readability(html_str)
    target = doc.root_node.select_first("p")
    assert len(Readability.get_inner_text(target, False)) == 49
    assert len(Readability.get_inner_text(target, None)) == 43


# mod.rs:2832-2856
def test_get_link_density():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p id="one">Zero link density</p>
            <p id="two">Link density > 0 <a href="https://www.rust-lang.org/">The Rust home page</a></p>
            <p id="three"><a></a><a></a></p>
           </body>
        </html>
         """
    doc = Readability(html_str)
    assert Readability.get_link_density(doc.root_node.select_first("p#one")) == f32(0)
    assert Readability.get_link_density(doc.root_node.select_first("p#two")) == f32(
        18
    ) / f32(35)
    assert Readability.get_link_density(doc.root_node.select_first("p#three")) == f32(0)


# mod.rs:2858-2887
def test_has_child_block_element():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <p id="one">Has no <span>block level</span> elements</p>
            <p id="two">Link density > 0 <a href="https://www.rust-lang.org/">The Rust home page</a></p>
            <div id="three">
              <p>This is a block level element</p>
            </div>
           </body>
        </html>
        """
    doc = Readability(html_str)
    assert (
        Readability.has_child_block_element(doc.root_node.select_first("p#one"))
        is False
    )
    assert (
        Readability.has_child_block_element(doc.root_node.select_first("p#two"))
        is False
    )
    assert (
        Readability.has_child_block_element(doc.root_node.select_first("div#three"))
        is True
    )


# mod.rs:2889-2927
def test_get_node_ancestors():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <section>
              <div>
                <p><span></span></p>
              </div>
            </section>
          </body>
        </html>
        """
    doc = Readability(html_str)
    target = doc.root_node.select_first("span")
    assert len(Readability.get_node_ancestors(target, None)) == 1
    assert len(Readability.get_node_ancestors(target, 3)) == 3
    assert len(Readability.get_node_ancestors(target, 5)) == 5
    assert len(Readability.get_node_ancestors(target, 200)) == 6

    target = doc.root_node.select_first("html")
    assert len(Readability.get_node_ancestors(target, 4)) == 1


_CLASS_WEIGHT_HTML = """
        <!DOCTYPE html>
        <html>
          <body>
            <div id="blog" class="main">
              <h1 class="hidden">Up next...</h1>
              <p id="story">A story is told...</p>
            </div>
            <div id="comments">
              Tell us what you think
              <p class="comment">Great read...</p>
            </div>
          </body>
        </html>
        """


# mod.rs:2929-2964
def test_get_class_weight():
    doc = Readability(_CLASS_WEIGHT_HTML)
    get = lambda sel: doc.root_node.select_first(sel)
    assert doc.get_class_weight(get("body")) == 0
    assert doc.get_class_weight(get("div#blog")) == 50
    assert doc.get_class_weight(get("h1.hidden")) == -25
    assert doc.get_class_weight(get("p#story")) == 25
    assert doc.get_class_weight(get("div#comments")) == -25
    assert doc.get_class_weight(get("p.comment")) == -25


# mod.rs:2966-3013
def test_initialize_node():
    html_str = _CLASS_WEIGHT_HTML.replace(
        '<p class="comment">Great read...</p>', '<pre class="comment">Great read...</pre>'
    )
    doc = Readability(html_str)

    def score_of(sel: str) -> str:
        node = doc.root_node.select_first(sel)
        doc.initialize_node(node)
        return node.attributes.get(READABILITY_SCORE)

    assert score_of("div#blog") == "55"
    assert score_of("h1.hidden") == "-30"
    assert score_of("p#story") == "25"
    assert score_of("div#comments") == "-20"
    assert score_of("pre.comment") == "-22"


# mod.rs:3015-3055
def test_get_row_and_column_count():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <table>
              <tbody>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td rowspan="2">&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td colspan="2">&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td colspan="4">&nbsp;</td>
                </tr>
              </tbody>
            </table>
          </body>
        </html>
        """
    doc = Readability(html_str)
    table = doc.root_node.select_first("table")
    assert Readability.get_row_and_column_count(table) == (6, 4)


# mod.rs:3057-3156
def test_mark_data_tables():
    html_str = """
        <!DOCTYPE html>
        <html>
          <body>
            <table id="one"></table>
            <table width="100%" border="0" id="two">
              <tr valign="top">
                <td width="20%">Left</td>
                <td height="200" width="60%">Main</td>
                <td width="20%">Right</td>
              </tr>
            </table>
            <table id="three">
              <caption>Monthly savings</caption>
              <tr>
                <th>Month</th>
                <th>Savings</th>
              </tr>
              <tr>
                <td>January</td>
                <td>$100</td>
              </tr>
              <tr>
                <td>February</td>
                <td>$50</td>
              </tr>
            </table>
            <table id="four">
              <tbody>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td rowspan="2">&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td colspan="2">&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                </tr>
                <tr>
                  <td colspan="4">&nbsp;</td>
                </tr>
              </tbody>
            </table>
            <table id="five">
              <table>
                <tbody>
                  <tr>
                    <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                  </tr>
                  <tr>
                    <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td rowspan="2">&nbsp;</td>
                  </tr>
                  <tr>
                    <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                  </tr>
                  <tr>
                    <td>&nbsp;</td><td colspan="2">&nbsp;</td><td>&nbsp;</td>
                  </tr>
                  <tr>
                    <td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td><td>&nbsp;</td>
                  </tr>
                  <tr>
                    <td colspan="4">&nbsp;</td>
                  </tr>
                </tbody>
              </table>
            </table>
          </body>
        </html>
        """
    doc = Readability(html_str)
    doc.mark_data_tables()

    def attr(sel: str) -> str:
        return doc.root_node.select_first(sel).attributes.get("readability-data-table")

    assert attr("table#one") == "false"
    assert attr("table#two") == "false"
    assert attr("table#three") == "true"
    assert attr("table#four") == "true"
    assert attr("table#five") == "false"


# mod.rs:3158-3211
def test_fix_lazy_images():
    svg_b64 = "PHN2ZyB4bWxucz0iaHR0cDovL3d3dy53My5vcmcvMjAwMC9zdmciIHhtbG5zOnhsaW5rPSJodHRwOi8vd3d3LnczLm9yZy8xOTk5L3hsaW5rIiB2ZXJzaW9uPSIxLjEiIGlkPSJMYXllcl8xIiB4PSIwcHgiIHk9IjBweCIgdmlld0JveD0iMCAwIDEwMCAxMDAiIGVuYWJsZS1iYWNrZ3JvdW5kPSJuZXcgMCAwIDEwMCAxMDAiIHhtbDpzcGFjZT0icHJlc2VydmUiIGhlaWdodD0iMTAwcHgiIHdpZHRoPSIxMDBweCI+ICAgICA8L3N2Zz4="
    html_str = f"""
        <!DOCTYPE html>
        <html>
            <body>
                <img id="svg-uri" alt="Basketball" src="data:image/svg+xml;base64,{svg_b64}" />
                <img id="normal-src" src="./foo.jpg">
                <img id="gif-uri" src="data:image/gif;base64,R0lGODlhEAAQAMQAAORHHOVSKudfOulrSOp3WOyDZu6QdvCchPGolfO0o/XBs/fNwfjZ0frl3/zy7////wAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAACH5BAkAABAALAAAAAAQABAAAAVVICSOZGlCQAosJ6mu7fiyZeKqNKToQGDsM8hBADgUXoGAiqhSvp5QAnQKGIgUhwFUYLCVDFCrKUE1lBavAViFIDlTImbKC5Gm2hB0SlBCBMQiB0UjIQA7" alt="star" width="16" height="16">
                <img id="gif-uri-remove-src" data-src="./not-real-gif.png" src="data:image/gif;base64,R0lGODlhEAAQAMQAAORHHOVSKudfOulrSOp3WOyDZu6QdvCchPGolfO0o/" alt="star" width="16" height="16">
                <img id="lazy-loaded" class="lazy" src="placeholder.jpg" data-src="./720x640.jpg">
                <picture>
                    <source media="(min-width:650px)" srcset="img_pink_flowers.jpg">
                    <source media="(min-width:465px)" srcset="img_white_flower.jpg">
                    <img src="img_orange_flowers.jpg" alt="Flowers" style="width:auto;">
                </picture>
                <img id="no-lazy-class" src="https://image.url/" data-attrs="{{&quot;src&quot;:&quot;https://other.url/1.png&quot;,&quot;alt&quot;:&quot;&quot;}}"/>
            </body>
        </html>
        """
    doc = Readability(html_str)
    svg_uri = doc.root_node.select_first("#svg-uri")
    normal_src = doc.root_node.select_first("#normal-src")
    gif_uri = doc.root_node.select_first("#gif-uri")
    picture = doc.root_node.select_first("picture")
    Readability.fix_lazy_images(doc.root_node)
    assert doc.root_node.select_first("#svg-uri") is svg_uri
    assert doc.root_node.select_first("#normal-src") is normal_src
    assert doc.root_node.select_first("#gif-uri") is gif_uri
    assert doc.root_node.select_first("picture") is picture

    n = doc.root_node.select_first("#gif-uri-remove-src")
    assert n.attributes.get("data-src") == n.attributes.get("src")
    n = doc.root_node.select_first("#lazy-loaded")
    assert n.attributes.get("data-src") == n.attributes.get("src")
    n = doc.root_node.select_first("#no-lazy-class")
    assert n.attributes.get("src") == "https://image.url/"


# mod.rs:3213-3283
def test_clean_conditionally():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <table id="data-table">
                    <caption>Monthly savings</caption>
                    <tr>
                        <th>Month</th>
                        <th>Savings</th>
                    </tr>
                    <tr>
                        <td>January</td>
                        <td>$100</td>
                    </tr>
                    <tr>
                        <td>February</td>
                        <td>$50</td>
                    </tr>
                </table>
                <table width="100%" border="0" id="display-table">
                    <tr valign="top">
                        <td width="20%">Left</td>
                        <td height="200" width="60%">Main</td>
                        <td width="20%">Right</td>
                    </tr>
                </table>
                <table width="100%" border="0" id="display-table-removed" class="comment">
                    <tr valign="top">
                        <td width="40%">One</td>
                        <td width="60%">Two</td>
                    </tr>
                </table>
                <div class="comment">
                    <p>The parent div will be deleted due to negative weight classes</p>
                </div>
                <div id="some-content">
                    The days of the week: Mon, Tue, Wed, Thur, Fri, Sat, Sun.
                    The months of the year: Jan, Feb, Mar, Apr, May, Jun, Jul, Aug, Oct, Nov, Dec.
                </div>
                <div id="embeds">
                    <iframe width="420" height="345" src="https://www.youtube.com/embed/dQw4w9WgXcQ"></iframe>
                </div>
                <div id="footer">
                    <p>Check out more articles</p>
                    <ul>
                        <li><img src="article.jpg"><p>Article 1</p></li>
                        <li><img src="article.jpg"><p>Article 2</p></li>
                        <li><img src="article.jpg"><p>Article 3</p></li>
                    </ul>
                </div>
            </body>
        </html>
        """
    doc = Readability(html_str)
    body = doc.root_node.select_first("body")
    doc.mark_data_tables()
    doc.clean_conditionally(body, "table")
    assert doc.root_node.select_first("#data-table") is not None
    assert doc.root_node.select_first("#display-table") is None
    assert doc.root_node.select_first("#display-table-removed") is None
    doc.clean_conditionally(body, "div")
    assert doc.root_node.select_first("div.comment") is None
    assert doc.root_node.select_first("div#some-content") is not None
    assert doc.root_node.select_first("div#embeds") is not None
    assert doc.root_node.select_first("div#footer") is None


# mod.rs:3285-3316
def test_clean():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <pre>A Paperoni test</pre>
                <iframe width="420" height="345" src="https://www.youtube.com/embed/dQw4w9WgXcQ">
                </iframe>
                <iframe src="https://www.rust-lang.org/" name="rust_iframe" height="300px" width="100%" title="Rustlang Homepage">
                </iframe>
                <iframe src="https://crates.io/" name="crates_iframe" height="300px" width="100%" title="Crates.io Homepage">
                </iframe>
                <pre></pre>
            </body>
        </html>
        """
    doc = Readability(html_str)
    Readability.clean(doc.root_node, "pre")
    assert count(doc.root_node.select("pre")) == 0

    Readability.clean(doc.root_node, "iframe")
    assert count(doc.root_node.select("iframe")) == 1
    iframe = doc.root_node.select_first("iframe")
    assert iframe.attributes.get("src") == "https://www.youtube.com/embed/dQw4w9WgXcQ"


# mod.rs:3318-3342
def test_clean_headers():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <h1 class="tags">#blog, #rust</h1>
                <h2>A blog in Rust</h2>
                <p>Foo bar baz quux</p>
                <h1 class="footer">Copyright info</h1>
            </body>
        </html>
        """
    doc = Readability(html_str)
    body = doc.root_node.select_first("body")
    assert count(doc.root_node.select("h1")) == 2
    assert count(doc.root_node.select("h2")) == 1
    doc.clean_headers(body)
    assert count(doc.root_node.select("h1")) == 0
    assert count(doc.root_node.select("h2")) == 1


# mod.rs:3344-3385
def test_clean_styles():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <div style="color:red; padding: 10px" id="red">A red box</div>
                <div height="100px" style="color:blue; padding: 10px" id="blue">
                    A blue box
                </div>
                <svg width="100" height="100">
                    <circle cx="50" cy="50" r="40" fill="green" />
                </svg>
                <table width="100%" bgcolor="yellow">
                    <tr>
                        <th>Col 1</th>
                        <th>Col 2</th>
                    </tr>
                </table>
            </body>
        </html>
        """
    doc = Readability(html_str)
    Readability.clean_styles(doc.root_node)
    red = doc.root_node.select_first("#red")
    blue = doc.root_node.select_first("#blue")
    svg = doc.root_node.select_first("svg")
    table = doc.root_node.select_first("table")
    assert len(red.attributes) == 1
    assert "style" not in red.attributes
    assert len(blue.attributes) == 2
    assert "style" not in blue.attributes
    assert "height" in blue.attributes
    assert len(svg.attributes) == 2
    assert len(table.attributes) == 0


# mod.rs:3387-3412
def test_clean_matched_nodes():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <p class="example">In Rust you can have 3 kinds of variables</p>
                <ul>
                    <li class="example">Immutable</li>
                    <li class="example">Mutable</li>
                    <li class="example">Constant</li>
                </ul>
                <p>Onto more tests</p>
            </body>
        </html>
        """
    doc = Readability(html_str)
    body = doc.root_node.select_first("body")
    Readability.clean_matched_nodes(
        body, lambda n, s: n.name == "li" and "example" in s
    )
    assert count(doc.root_node.select("p")) == 2
    assert count(doc.root_node.select("li")) == 0


# mod.rs:3414-3599
def test_prep_article():
    html_str = r"""
        <!DOCTYPE html>
        <html>
            <head>
                <title>A test HTML file</title>
            </head>
            <body>
                <h2>A test HTML file</h2>
                <div class="search">
                    Search for other posts
                    <input type="search" placeholder="Type here...">
                    <button id="search-btn">Search</button>
                </div>
                <aside>Some content aside</aside>
                <h1>A h1 tag</h1>
                <h1 class="banner">A h1 tag to be removed</h1>
                <table id="tbl-one"></table>
                <table width="100%" border="0" id="tbl-two">
                    <tr valign="top">
                        <td width="20%">Left</td>
                        <td height="200" width="60%">Main Content of the system</td>
                        <td width="20%">Right</td>
                    </tr>
                </table>
                <div style="color:red; padding: 10px" id="red">A red box</div>
                <div height="100px" style="color:blue; padding: 10px" id="blue">
                    A blue box
                </div>
                <svg width="100" height="100">
                    <circle cx="50" cy="50" r="40" fill="green" />
                </svg>
                <ul>
                    <li>one</li>
                    <li>two</li>
                    <li>three</li>
                </ul>
                <object data="obj.html" width="500" height="200"></object>
                <table id="tbl-three">
                    <caption>Monthly savings</caption>
                    <tr>
                        <th>Month</th>
                        <th>Savings</th>
                    </tr>
                    <tr>
                        <td>January</td>
                        <td>$100</td>
                    </tr>
                    <tr>
                        <td>February</td>
                        <td>$50</td>
                    </tr>
                </table>
                <iframe id="yt" width="420" height="345" src="https://www.youtube.com/embed/dQw4w9WgXcQ">
                </iframe>
                <div id="foo">
                    <form action="">
                        <fieldset>
                            <legend>Personal details:</legend>
                            <label for="fname">First name:</label>
                            <input type="text" id="fname" name="fname"><br><br>
                            <label for="lname">Last name:</label>
                            <input type="text" id="lname" name="lname"><br><br>
                        </fieldset>
                    </form>
                    <br>
                    <p id="p-link">
                        omnis nemo qui libero? Eius suscipit veritatis, tenetur impedit et voluptatibus.
                        <a href="\#">Rerum repellat totam quam nobis harum fuga consequatur</a>
                        corrupti?
                    </p>
                    <br>
                    <iframe src="https://www.rust-lang.org/" name="rust_iframe" height="300px" width="100%" title="Rustlang Homepage">
                    </iframe>
                </div>
                <iframe src="https://crates.io/" name="crates_iframe" height="300px" width="100%" title="Crates.io Homepage">
                </iframe>
                <table id="tbl-replace-p">
                    <tr valign="top">
                        <td width="20%" id="td-to-p"><span>One cell table. This is going to be replaced</span></td>
                    </tr>
                </table>
                <embed type="video/webm" src="video.mp4" width="400" height="300">
                <br>
                <embed type="image/jpg" src="foo.jpg" width="300" height="200">
                <div>
                    <form action="">
                        <div>
                            <label>Join our newsletter</label>
                            <input type="email" placeholder="Your email address">
                        </div>
                        <button>Sign up</button>
                    </form>
                </div>
                <div id="div-p">
                    <p class="share">Share this as a <a href="\#">Tweet</a></p>
                    <br>
                    <p id="share">
                        Lorem ipsum dolor, sit amet consectetur adipisicing elit. Minima quia numquam aperiam dolores ipsam, eos perferendis cupiditate adipisci perspiciatis
                        dolore, sunt, iusto nobis? Nulla molestiae id repellat quibusdam nobis quia. Lorem ipsum dolor sit amet consectetur, adipisicing elit. Voluptas
                        laudantium omnis nemo qui libero? Eius suscipit veritatis, tenetur impedit et voluptatibus. Rerum repellat totam quam nobis harum fuga consequatur
                        corrupti? Lorem ipsum dolor sit amet consectetur, adipisicing elit. Iure excepturi accusamus nemo voluptatibus laborum minus dicta blanditiis totam
                        aperiam velit amet cupiditate hic a molestias odio nam, fugiat facere iusto.
                    </p>
                </div>
                <table id="tbl-replace-div">
                    <tr>
                        <td id="td-to-div"><pre>One cell table. This is going to be replaced</pre></td>
                    </tr>
                </table>
                <footer>A Paperoni test</footer>
                <footer>Copyright 2020</footer>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_title = "A test HTML file"
    body = doc.root_node.select_first("body")
    doc.prep_article(body)

    table_node = doc.root_node.select_first("table")
    assert table_node.attributes.get("readability-data-table") is not None

    assert count(doc.root_node.select("form, fieldset")) == 0
    assert count(doc.root_node.select("h1, object, embed, footer, link, aside")) == 0

    assert count(doc.root_node.select("p")) == 2
    assert doc.root_node.select_first("p.share") is None
    assert doc.root_node.select_first("p#share") is not None
    assert doc.root_node.select_first("p#td-to-p") is not None

    assert doc.root_node.select_first("h2") is None
    assert count(doc.root_node.select("input, textarea, select, button")) == 0

    assert count(doc.root_node.select("iframe")) == 1
    assert doc.root_node.select_first("iframe#yt") is not None

    assert count(doc.root_node.select("h1")) == 0
    assert count(doc.root_node.select("#tbl-one, #tbl-replace-p, #tbl-replace-div")) == 0
    assert count(doc.root_node.select("#tbl-two, #tbl-three")) == 2
    assert doc.root_node.select_first("ul") is not None

    assert count(doc.root_node.select("div")) == 2
    assert doc.root_node.select_first("div#div-p") is not None
    assert doc.root_node.select_first("div#td-to-div") is not None

    assert count(doc.root_node.select("br")) == 1
    br = doc.root_node.select_first("br")
    assert next(following_elements(br)).name == "div"


# mod.rs:3601-3706
@pytest.mark.parametrize(
    "title_markup,body_markup,expected",
    [
        ("<title>Porting Readability to Rust</title>", "<p></p>", "Porting Readability to Rust"),
        (
            "<title>Crates.io: The Rust package repository</title>",
            "<p></p>",
            "Crates.io: The Rust package repository",
        ),
        (
            "<title>Crates.io: The Rust package repository</title>",
            "<h1>Crates.io: The Rust package repository</h1>",
            "Crates.io: The Rust package repository",
        ),
        (
            "<title>Crates.io: A package repository</title>",
            "<h1>Crates.io: A Rust package repository</h1>",
            "Crates.io: A package repository",
        ),
        ("<title>Foo developer \\ Blog</title>", "<p></p>", "Foo developer \\ Blog"),
        (
            "<title>Foo developer » Blog Post on Foo bar stuff</title>",
            "<p></p>",
            "Blog Post on Foo bar stuff",
        ),
        ("<title>Blog</title>", "<h1>Getting started with Rust</h1>", "Blog"),
    ],
)
def test_get_article_title(title_markup, body_markup, expected):
    html_str = f"""
        <!DOCTYPE html>
        <html>
            <head>
                {title_markup}
            </head>
            <body>
                {body_markup}
            </body>
        </html>
        """
    doc = Readability(html_str)
    assert doc.get_article_title() == expected


# mod.rs:3708-3722
def test_unescape_html_entities():
    assert Readability.unescape_html_entities("Therefore, 5 &gt; 3") == "Therefore, 5 > 3"
    assert (
        Readability.unescape_html_entities("Logical AND (&amp;&amp;)")
        == "Logical AND (&&)"
    )
    assert (
        Readability.unescape_html_entities("&#117; &#43; &#101; = &#252;")
        == "u + e = ü"
    )
    assert (
        Readability.unescape_html_entities("&#x0158;&#x016d;&#x0161;&#x0163;")
        == "Řŭšţ"
    )


# mod.rs:3724-3771
def test_get_article_metadata():
    html_str = """
        <!DOCTYPE html>
        <html>
            <head>
                <meta charset="utf-8"/>
                <meta name="description" content="A post on how hard it is to work with text."/>
                <meta name="viewport" content="width=device-width"/>
                <title>Foo Coder / Blog on the difficulty of using utf-8</title>
                <meta name="author" content="Foo Coder"/>
            </head>
            <body></body>
        </html>
        """
    doc = Readability(html_str)
    meta = doc.get_article_metadata()
    assert meta.byline == "Foo Coder"
    assert meta.excerpt == "A post on how hard it is to work with text."
    assert meta.title == "Blog on the difficulty of using utf-8"
    assert meta.site_name is None
    assert meta.as_dict() == {
        "title": "Blog on the difficulty of using utf-8",
        "byline": "Foo Coder",
        "excerpt": "A post on how hard it is to work with text.",
        "site_name": None,
    }

    html_str = """
        <!DOCTYPE html>
        <html>
            <head>
                <meta http-equiv="Content-Type" content="text/html; charset=utf-8" />
                <meta name="viewport" content="width=device-width, initial-scale=1, maximum-scale=1" user-scalable="no" />
                <meta name="title" content="A Long Title" />
                <meta name="description" content="Foo bar baz bo&#223;" />
                <meta property="og:site_name" content="Blog Place" />
                <meta property="og:title" content="A Longer Title" />
                <meta property="og:description" content="Foo bar baz bo&#223;" />
                <meta name="author" content="F&#x00f6;o Coder" />
                <meta name="dc:creator" content="F&#x00f6;o Coder" />
                <meta name="twitter:card" content="summary_large_image" />
                <title>The Longest Title</title>
            </head>
        </html>
        """
    doc = Readability(html_str)
    meta = doc.get_article_metadata()
    assert meta.byline == "Föo Coder"
    assert meta.excerpt == "Foo bar baz boß"
    assert meta.site_name == "Blog Place"
    assert meta.title == "A Longer Title"


# mod.rs:3773-3850
def test_fix_relative_uris():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <h1><a href="../home.html">Go back</a></h1>
                <img id="ex-1" src="https://example.image.com/images/1.jpg" alt="Ex 1">
                <img id="ex-2" src="https://example.image.com/images/2.jpg" alt="Ex 2">
                <img id="ex-3" src="../images/2.jpg" alt="Ex 3">
                <img id="ex-4" src="./images/1.jpg" alt="Ex 4">
                <img id="ex-5" src="https://images.com/images/1.jpg" alt="Ex 5">
                <img id="ex-6" src="/images/1.jpg" alt="Ex 6">
                <p><a href="#ex-1">First image</a></p>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_node = doc.root_node.select_first("body")
    doc.fix_relative_uris("https://example.image.com/blog/")

    def src(sel):
        return doc.root_node.select_first(sel).attributes.get("src")

    assert src("img#ex-1") == "https://example.image.com/images/1.jpg"
    assert src("img#ex-2") == "https://example.image.com/images/2.jpg"
    assert src("img#ex-3") == "https://example.image.com/images/2.jpg"
    assert src("img#ex-4") == "https://example.image.com/blog/images/1.jpg"
    assert src("img#ex-5") == "https://images.com/images/1.jpg"
    assert src("img#ex-6") == "https://example.image.com/images/1.jpg"

    p_a = doc.root_node.select_first("p").select_first("a")
    assert p_a.attributes.get("href") == "#ex-1"
    h1_a = doc.root_node.select_first("h1").select_first("a")
    assert h1_a.attributes.get("href") == "https://example.image.com/home.html"


# mod.rs:3852-3889
def test_clean_classes():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <p class="a b c d">One</p>
                <p class="b c d e">Two</p>
                <div class="a b c div">Three</div>
                <div class="b c d e">Four</div>
                <ul class="a b c d">
                    <li class="a b c d">One</li>
                    <li class="b c d e">Two</li>
                    <li class="b c d e">Three</li>
                </ul>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_node = doc.root_node.select_first("body")
    doc.clean_classes()
    assert all(
        "class" not in n.attributes
        for n in doc.root_node.descendant_elements(inclusive=True)
    )


# mod.rs:3891-3936
def test_clean_readability_attrs():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <div readability-score="0.921487">
                    <p readability-score="0.8102">Welcome to this awesome blog post. Only good content is here. No spam.</p>
                    <p readability-score="0.6004">Let's look at some statistics</p>
                    <table readability-score="0.719275" readability-data-table="true">
                        <caption>Monthly savings</caption>
                        <tr>
                            <th>Month</th>
                            <th>Savings</th>
                        </tr>
                        <tr>
                            <td>January</td>
                            <td>$100</td>
                        </tr>
                        <tr>
                            <td>February</td>
                            <td>$50</td>
                        </tr>
                    </table>
                </div>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_node = doc.root_node.select_first("body")
    doc.clean_readability_attrs()
    assert all(
        len(n.attributes) == 0
        for n in doc.root_node.descendant_elements(inclusive=True)
    )


# mod.rs:3938-3980
def test_post_process_content():
    html_str = """
        <!DOCTYPE html>
        <html>
            <body>
                <p class="a b c d">One</p>
                <p class="b c d e">Two</p>
                <div class="a b c div">Three</div>
                <div class="b c d e">
                    <img src="./img.jpg" class="lazy">
                </div>
                <ul class="a b c d">
                    <li class="a b c d"><a href="#home">One</a></li>
                    <li class="b c d e">Two</li>
                    <li class="b c d e">Three</li>
                </ul>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_node = doc.root_node.select_first("body")
    doc.post_process_content("https://foo.blog/post/")
    assert not any(
        "class" in n.attributes
        for n in doc.root_node.descendant_elements(inclusive=True)
    )
    a_node = doc.root_node.select_first("a")
    assert a_node.attributes.get("href") == "#home"
    img_node = doc.root_node.select_first("img")
    assert img_node.attributes.get("src") == "https://foo.blog/post/img.jpg"


# mod.rs:3982-3995
def test_flag_is_active():
    doc = Readability("<!DOCTYPE html><html><body></body></html>")
    assert doc.flag_is_active(FLAG_STRIP_UNLIKELYS)
    assert doc.flag_is_active(FLAG_WEIGHT_CLASSES)
    assert doc.flag_is_active(FLAG_CLEAN_CONDITIONALLY)


# mod.rs:3997-4014
def test_remove_flag():
    doc = Readability("<!DOCTYPE html><html><body></body></html>")
    assert doc.flag_is_active(FLAG_CLEAN_CONDITIONALLY)
    doc.remove_flag(FLAG_CLEAN_CONDITIONALLY)
    assert not doc.flag_is_active(FLAG_CLEAN_CONDITIONALLY)
    assert doc.flag_is_active(FLAG_WEIGHT_CLASSES)
    doc.remove_flag(FLAG_WEIGHT_CLASSES)
    assert not doc.flag_is_active(FLAG_WEIGHT_CLASSES)
    assert doc.flag_is_active(FLAG_STRIP_UNLIKELYS)


# mod.rs:647-763 <base href> branch (not covered by the reference's test)
def test_fix_relative_uris_with_base_href():
    html_str = """
        <!DOCTYPE html>
        <html>
            <head><base href="https://cdn.example.net/assets/"></head>
            <body>
                <img id="rel" src="pic.jpg">
                <p><a id="frag" href="#sec">jump</a></p>
            </body>
        </html>
        """
    doc = Readability(html_str)
    doc.article_node = doc.root_node.select_first("body")
    doc.fix_relative_uris("https://example.com/post/")
    img = doc.root_node.select_first("img#rel")
    assert img.attributes.get("src") == "https://cdn.example.net/assets/pic.jpg"
    # base != document ⇒ fragment links resolve against base (reference rule)
    a = doc.root_node.select_first("a#frag")
    assert a.attributes.get("href") == "https://cdn.example.net/assets/#sec"
