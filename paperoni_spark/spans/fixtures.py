"""Fixture document corpus (FIXTURES.md §2): each archetype derives from a
concrete test input in /root/reference/ (cited per entry) and is encoded into
the interleaved ``documents`` span shape via :func:`codec.html_to_spans`.
Deterministic — no randomness; `fx-mega` uses fixed repetition counts."""

from __future__ import annotations

from typing import Any

from .codec import html_to_spans


# test_html/simple.html (used via mod.rs:2185), inlined verbatim
FX_SIMPLE = """<!DOCTYPE html>
<html lang="en">
<head>
    <title>Sample Document</title>
</head>
<body>
    <h1>Some text in h1</h1>
    <img src="inexistent.png">
    <div class="invalid-elems">
        <!-- This div contains invalid elements -->
        <h1>Imagine some lorem ipsum</h1>
        <img>
    </div>
    <!-- Test that the no-script content is copied over -->
    <img src="lazy-load.png">
    <noscript>
        <div class="parent">
            <img src="eager-load.png" id="lazy-load">
        </div>
    </noscript>
</body>
</html>
"""

# extractor.rs:85-112
FX_EXTRACTOR = """
        <!doctype html>
        <html lang="en">
            <head>
                <meta charset="utf-8">
                <meta name="description" content="A sample document">
                <meta name="keywords" content="test,Rust">
                <meta name="author" content="Paperoni">
                <title>Testing Paperoni</title>
            </head>
            <body>
                <header>
                <!-- Unimportant information -->
                    <h1>Testing Paperoni</h1>
                </header>
                <article>
                    <h1>Starting out</h1>
                    <p>Some Lorem Ipsum text here</p>
                    <p>Observe this picture</p>
                    <img src="./img.jpg" alt="Random image">
                    <img src="data:image/png;base64,lJGWEIUQOIQWIDYVIVEDYFOUYQFWD">
                </article>
                <footer>
                    <p>Made in HTML</p>
                </footer>
            </body>
        </html>
        """

# mod.rs:2406-2419 (op: replace_brs mod.rs:257-332)
FX_BRS = "<div>foo<br>bar<br> <br><br>abc</div>"

_PARA = (
    "<p>Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua. Ut enim ad "
    "minim veniam, quis nostrud exercitation ullamco laboris nisi ut aliquip "
    "ex ea commodo consequat.</p>"
)


def _article(body: str, title: str = "Fixture article") -> str:
    return (
        "<!DOCTYPE html><html><head><title>"
        + title
        + '</title></head><body><article id="main-content">'
        + body
        + "</article></body></html>"
    )


# composed per FIXTURES.md fx-grab-smoke (thresholds mod.rs:15, :2083)
FX_GRAB_SMOKE = _article(_PARA * 8 + '<img src="https://example.com/images/pic.png">' + _PARA * 4)
FX_GRAB_RETRY = _article(_PARA)  # < 500 bytes total → flag-degradation retries
FX_GRAB_EMPTY = "<!DOCTYPE html><html><body></body></html>"

# mod.rs:3415-3529 kitchen-sink (abridged to the structural core, same ops)
FX_PREP_ARTICLE = """
<!DOCTYPE html>
<html>
  <head><title>A test HTML file</title></head>
  <body>
    <div class="search">Search for other posts
      <input type="search" placeholder="Type here...">
      <button id="search-btn">Search</button>
    </div>
    <aside>Some content aside</aside>
    <article id="content">
""" + _PARA * 6 + """
      <table id="tbl-data">
        <caption>Monthly savings</caption>
        <tr><th>Month</th><th>Savings</th></tr>
        <tr><td>January</td><td>$100</td></tr>
        <tr><td>February</td><td>$50</td></tr>
      </table>
      <table width="100%" border="0" id="tbl-layout">
        <tr valign="top"><td width="20%">Left</td><td>Main</td><td>Right</td></tr>
      </table>
      <p class="share">Share this as a <a href="https://example.com/tweet">Tweet</a></p>
      <img src="https://example.com/images/inline.jpg">
""" + _PARA * 4 + """
    </article>
    <footer>Copyright 2020</footer>
  </body>
</html>
"""

FX_TITLES = [
    "<!DOCTYPE html><html><head><title>Porting Readability to Rust</title></head><body>" + _PARA * 8 + "</body></html>",
    "<!DOCTYPE html><html><head><title>Crates.io: The Rust package repository</title></head><body>" + _PARA * 8 + "</body></html>",
    "<!DOCTYPE html><html><head><title>Foo developer » Blog Post on Foo bar stuff</title></head><body>" + _PARA * 8 + "</body></html>",
    "<!DOCTYPE html><html><head><title>Blog</title></head><body><h1>Getting started with Rust</h1>" + _PARA * 8 + "</body></html>",
]

FX_META = [
    """<!DOCTYPE html><html><head>
        <meta name="description" content="A post on how hard it is to work with text."/>
        <title>Foo Coder / Blog on the difficulty of using utf-8</title>
        <meta name="author" content="Foo Coder"/>
        </head><body>""" + _PARA * 8 + "</body></html>",
    """<!DOCTYPE html><html><head>
        <meta name="title" content="A Long Title" />
        <meta name="description" content="Foo bar baz bo&#223;" />
        <meta property="og:site_name" content="Blog Place" />
        <meta property="og:title" content="A Longer Title" />
        <meta name="dc:creator" content="F&#x00f6;o Coder" />
        <title>The Longest Title</title>
        </head><body>""" + _PARA * 8 + "</body></html>",
]

# mod.rs:3774-3850 URL-resolution cases inside a real article body
FX_REL_URI = _article(
    _PARA * 6
    + '<img src="https://example.image.com/images/1.jpg">'
    + '<img src="../images/2.jpg">'
    + '<img src="./images/3.jpg">'
    + '<img src="/images/4.jpg">'
    + '<p><a href="#frag">First image</a> and <a href="../home.html">home</a></p>'
    + _PARA * 4
)

# mod.rs:2560-2599 byline capture inside an article
FX_BYLINE = _article(
    '<p class="author">A Paperoni maintainer</p>' + _PARA * 10
)

# mod.rs:2507-2560 visibility pruning
FX_VISIBILITY = _article(
    '<div style="display: none"><p>hidden cruft</p></div>'
    + '<div aria-hidden="true"><p>aria hidden</p></div>'
    + _PARA * 10
)

# unlikely-candidate stripping (regexes.rs:34-39) + negative class weights
FX_UNLIKELY = _article(
    '<div class="sidebar">Navigation links everywhere</div>'
    + '<div class="comment">A comment that should vanish</div>'
    + _PARA * 10
)

FX_LAZY_IMG = _article(
    _PARA * 8
    + '<img class="lazy" src="placeholder.jpg" data-src="./720x640.jpg">'
    + _PARA * 3
)

# mod.rs:3058-3156 data-vs-layout tables inside an extractable article
FX_DATA_TABLES = _article(
    _PARA * 6
    + """<table id="tbl-data"><caption>Monthly savings</caption>
        <tr><th>Month</th><th>Savings</th></tr>
        <tr><td>January</td><td>$100</td></tr>
        <tr><td>February</td><td>$50</td></tr></table>
        <table width="100%" border="0" id="tbl-layout">
        <tr valign="top"><td width="20%">Left</td><td>Mid</td><td>Right</td></tr></table>"""
    + _PARA * 5
)

# mod.rs:3214-3283 conditional-clean ladder targets
FX_CLEAN_COND = _article(
    _PARA * 6
    + '<div class="comment"><p>negative-weight div to be removed</p></div>'
    + '<div id="embeds"><iframe width="420" height="345" src="https://www.youtube.com/embed/dQw4w9WgXcQ"></iframe></div>'
    + '<div id="linkfarm"><a href="https://example.com/1">one</a> <a href="https://example.com/2">two</a> <a href="https://example.com/3">three</a></div>'
    + _PARA * 5
)

# mod.rs:2930-3015 class/id weights steering candidate choice
FX_CLASSWEIGHT = (
    "<!DOCTYPE html><html><head><title>Weighted fixture</title></head><body>"
    + '<div id="sidebar" class="widget">' + _PARA + "</div>"
    + '<div id="blog" class="main article">' + _PARA * 10 + "</div>"
    + '<div id="comments">' + _PARA + "</div>"
    + "</body></html>"
)

# mod.rs:2282-2316 phrasing-content wrapping inside a div
FX_PHRASING = _article(
    "<div>Loose text with <b>bold</b> and <a href='https://example.com/x'><i>nested phrasing</i></a> runs"
    + _PARA * 8
    + "</div>"
)

FX_MEGA_REPEATS = 150  # fixed, not sampled (FIXTURES.md §3)
FX_MEGA = _article((_PARA + '<img src="https://example.com/images/m.png">') * FX_MEGA_REPEATS)

# ---- round-2 additions: kernel paths the e2e corpus did not yet reach
# (found by line-tracing readability.py under fixture+synthetic extraction;
# each cites the operator it pins)

# replace_brs double-<br> collapse + trailing-whitespace swallow (mod.rs:257-332)
FX_DOUBLE_BR = _article(
    _PARA * 6
    + "line one<br><br>line two continues with enough words to matter<br> <br>line three"
    + _PARA * 4
)

# <font> → <span> rename during prep_document (mod.rs:234-250)
FX_FONT = _article(
    _PARA * 6
    + '<p>Styled <font color="red">legacy font content</font> inline.</p>'
    + _PARA * 4
)

# <base href> participates in relative-URI resolution (mod.rs:647-700)
FX_BASE_HREF = (
    "<!DOCTYPE html><html><head><title>Base href fixture</title>"
    '<base href="https://cdn.example.net/sub/dir/">'
    '</head><body><article id="main-content">'
    + _PARA * 6
    + '<img src="./images/base-rel.jpg"><img src="../up.png">'
    + '<p><a href="doc.html">relative link</a></p>'
    + _PARA * 4
    + "</article></body></html>"
)

# article dir attribute capture (mod.rs:2122-2128)
FX_RTL = (
    "<!DOCTYPE html><html><head><title>RTL fixture</title></head>"
    '<body><article id="main-content" dir="rtl">'
    + _PARA * 10
    + "</article></body></html>"
)

# byline via rel="author" (mod.rs:887-910)
FX_BYLINE_REL = _article(
    '<p><a rel="author" href="/about/jane">Jane Doe</a></p>' + _PARA * 10
)

# lone-h2-matches-title removal (mod.rs:1517-1537)
FX_LONE_H2 = _article(
    "<h2>Lone Heading Fixture</h2>" + _PARA * 10, title="Lone Heading Fixture"
)

# clean_matched_nodes: share/social children under the char threshold
FX_SHARE = _article(
    _PARA * 6
    + '<div class="share-tools">Share on <a href="https://social.example/x">X</a></div>'
    + '<div class="social buttons">Like</div>'
    + _PARA * 4
)

# sibling merge: scored div siblings + a long link-free <p> sibling of the
# top candidate (append paths mod.rs:2036-2072)
_P_LONG_TEXT = (
    "This loose paragraph sits beside the main content and carries more than "
    "eighty characters of plain prose with no links at all, so the sibling "
    "merge adopts it."
)
FX_SIBLINGS = (
    "<!DOCTYPE html><html><head><title>Sibling merge fixture</title></head><body>"
    + '<div class="post body">' + _PARA * 10 + "</div>"
    + '<div class="post body">' + _PARA * 3 + "</div>"
    + "<p>" + _P_LONG_TEXT + "</p>"
    + "</body></html>"
)

# javascript: link unwrap — single text child vs multi-child span wrap
# (mod.rs:712-745)
FX_JS_LINKS = _article(
    _PARA * 6
    + '<p>Go <a href="javascript:void(0)">plain text link</a> now.</p>'
    + '<p>Or <a href="javascript:run()">click <b>this</b> rich link</a>.</p>'
    + _PARA * 4
)

# <video poster> made absolute (mod.rs:747-757)
FX_VIDEO_POSTER = _article(
    _PARA * 6
    + '<video poster="./poster.jpg" src="./clip.mp4"></video>'
    + _PARA * 4
)

# quoted inline-CSS declarations through the hand-rolled scanner
# (mod.rs:785-854) feeding is_probably_visible
FX_CSS_QUOTES = _article(
    '<p style="font-family: \'serif;x\'; visibility: visible">Quoted style content survives.</p>'
    + '<div style="content: &quot;a;b&quot;; display: none"><p>hidden by quoted-decl style</p></div>'
    + _PARA * 10
)

# title separator heuristics: dash-separated title longer than the h1
# (mod.rs:562-621)
FX_TITLE_SEP = (
    "<!DOCTYPE html><html><head><title>Deep Dive into Distributed Extraction - Foo Developer Blog</title></head>"
    "<body><h1>A different heading entirely</h1>"
    + _PARA * 8
    + "</body></html>"
)

# hierarchical separator (»): keeps the leading parts (mod.rs:569-584)
FX_TITLE_HIER = (
    "<!DOCTYPE html><html><head><title>The Publication Network » Long Reads » A Story About Parsers</title></head>"
    "<body><h1>Totally unrelated heading</h1>" + _PARA * 8 + "</body></html>"
)

# colon-separated title with no matching heading (mod.rs:585-599)
FX_TITLE_COLON = (
    "<!DOCTYPE html><html><head><title>Engine Weekly: Building Extraction Pipelines That Scale</title></head>"
    "<body><h1>Another heading</h1>" + _PARA * 8 + "</body></html>"
)

# initialize_node tag priors: blockquote/pre ancestors of scored <p>s
# (mod.rs:1120-1131)
FX_BLOCKQUOTE = _article(
    _PARA * 5
    + "<blockquote>" + _PARA * 2 + "</blockquote>"
    + "<pre>" + _PARA + "</pre>"
    + _PARA * 4
)

# fix_lazy_images: tiny base64-gif placeholder replaced from data-src, and
# the <figure> descendant branch (mod.rs:1250-1305)
FX_LAZY_B64 = _article(
    _PARA * 6
    + '<img src="data:image/gif;base64,R0lGODlhAQABAAD/ACwAAAAAAQABAAACADs=" data-src="./real-image.jpg">'
    + '<figure class="lazy" data-src="./figure-image.jpg"><img alt="inner"></figure>'
    + _PARA * 4
)

# single-cell table unwrapped to <p> at the end of prep_article
# (mod.rs:1559-1589) — cell text is comma-rich so clean_conditionally keeps
# the table alive until the unwrap step
FX_SINGLE_CELL = _article(
    _PARA * 6
    + "<table><tbody><tr><td>A single cell, quite full of commas, clauses, "
    "and phrases, keeps this table, despite the ladder, alive, intact, and "
    "unwrappable, into a paragraph, at the very end.</td></tr></tbody></table>"
    + _PARA * 4
)

# double-escaped numeric entities in metadata: the tokenizer unescapes one
# level, the kernel's unescape_html_entities (mod.rs:531-559) handles the
# surviving &#...; references, incl. the named-escape map
FX_META_DOUBLE_ESC = (
    "<!DOCTYPE html><html><head>"
    '<meta name="description" content="Caf&amp;#233; piece about &amp;#x00e9;clairs &amp;amp; butter"/>'
    '<meta name="author" content="R&amp;#233;my l&amp;quot;Auteur"/>'
    "<title>Entity Fixture Long Title Here</title></head><body>"
    + _PARA * 8
    + "</body></html>"
)

# colon-title fallbacks (mod.rs:585-599): (a) last-colon tail under 3 words
# falls back to the FIRST colon; (b) a >5-word prefix keeps the whole title
FX_TITLE_COLON_TAIL = (
    "<!DOCTYPE html><html><head><title>Site News: Read This Part: Now</title></head>"
    "<body><h1>Other</h1>" + _PARA * 8 + "</body></html>"
)
FX_TITLE_COLON_LONGPRE = (
    "<!DOCTYPE html><html><head><title>One Two Three Four Five Six: The Post Title Here</title></head>"
    "<body><h1>Other</h1>" + _PARA * 8 + "</body></html>"
)

# negative tag priors: scored <p> under <ul>/<li> ancestors (mod.rs:1125-1131)
FX_LIST_CONTENT = _article(
    _PARA * 5
    + "<ul><li>" + _PARA + "</li><li>" + _PARA + "</li></ul>"
    + _PARA * 4
)

# alternative-ancestor promotion: >=3 runner-up candidates sharing a parent
# with >=75% of the top score promote that parent (mod.rs:1900-1933)
FX_PROMOTION = (
    "<!DOCTYPE html><html><head><title>Promotion fixture</title></head><body>"
    + "<div id='wrapper'>"
    + ("<div class='entry'>" + _PARA * 3 + "</div>") * 4
    + "</div>"
    + "<div id='unrelated'><p>tiny</p></div>"
    + "</body></html>"
)


# ---- round-3 additions: the remaining fixture-reachable kernel lines
# (tools/kernel_coverage.py under the e2e corpora; each entry names the
# readability.py lines it pins — see COVERAGE.md for the unreachable rest)

# non-ASCII text through the byte-length math (blen UTF-8 slow path)
FX_UNICODE = _article(
    "<p>" + "Élégance déjà-vu — œuvres complètes, naïveté, français garanti. " * 8 + "</p>"
    + _PARA * 6
)

# noscript unwrap edge ladder (mod.rs:180-231): text+img inner (not single
# image), body-first noscript (no prev), comment-led prev chain, div-wrapped
# prev image, equal-attr skip
FX_NOSCRIPT_EDGE = (
    "<!DOCTYPE html><html><head><title>Noscript edge fixture</title></head><body>"
    '<noscript><img src="first.png"></noscript>'
    '<div><!-- lead --><noscript><img src="second.png"></noscript></div>'
    '<noscript><div>caption text <img src="a.png"></div></noscript>'
    '<div class="parent"><img src="same.png"></div><noscript><img src="same.png"></noscript>'
    '<article id="main-content">' + _PARA * 8 + "</article></body></html>"
)

# <style> strip in prep_document + br-chain break on double-br + trailing
# <br> swallowed as whitespace (mod.rs:225-332)
FX_STYLE_BRS = _article(
    "<style>p { color: red }</style>"
    + _PARA * 6
    + "<div>alpha<br><br>beta words here<br><br><br>gamma tail</div>"
    + '<div>x<br><br>y trailing break<br></div>'
    + _PARA * 4
)

# replace_brs: trailing whitespace TEXT node trimmed from the swallowing <p>
FX_BRS_TRAILING = _article(
    _PARA * 6
    + "<div>one<br><br>two <b>bold</b> <div>" + _PARA + "</div></div>"
    + _PARA * 4
)

# replace_brs: new <p> lands inside a <p> → parent rewritten to <div>
FX_BRS_P_IN_P = _article(
    _PARA * 6 + "<p>inner<br><br>rewrite parent paragraph</p>" + _PARA * 4
)

# lone-surrogate numeric entities → U+FFFD (utf16_lossy, mod.rs:549-556)
FX_META_SURROGATE = (
    "<!DOCTYPE html><html><head>"
    '<meta name="description" content="bad &amp;#xD800; surrogate and &amp;#55296; again"/>'
    "<title>Surrogate Entity Fixture Title</title></head><body>"
    + _PARA * 8
    + "</body></html>"
)

# hierarchical separator leaves a ≤4-word title: the word-count revert
# condition's second leg evaluates (mod.rs:612-620)
FX_TITLE_SHORT_HIER = (
    "<!DOCTYPE html><html><head><title>One » Four Word End Part</title></head>"
    "<body><h1>Unrelated</h1>" + _PARA * 8 + "</body></html>"
)

# byline via itemprop (mod.rs:891-898)
FX_BYLINE_ITEMPROP = _article(
    '<p itemprop="author">Janet Writer</p>' + _PARA * 10
)

# role=complementary removal + empty h2/section blocks; the whitespace-only
# div sits LAST because its div→p rewrite ends the walk (mod.rs:1734 quirk)
FX_EMPTY_COMPLEMENTARY = _article(
    _PARA * 3
    + '<div role="complementary">related reading box</div>'
    + "<h2></h2><section></section>"
    + _PARA * 7
    + "<div>   </div>"
)

# unlikely-candidate nodes inside a table: kept at ancestor depth ≤3,
# removed beyond max_depth (mod.rs:947-975 + walk guard mod.rs:1694)
FX_TABLE_UNLIKELY_DEPTH = _article(
    _PARA * 6
    + '<table><tbody><tr><td><span class="sidebar">kept inside table</span></td></tr>'
    + '<tr><td><div><div><div><span class="sidebar">too deep, removed</span></div></div></div></td></tr></tbody></table>'
    + _PARA * 4
)

# grab's div→p rewrite trims the trailing whitespace text from the new <p>
FX_GRAB_TRAILING_WS = _article(
    _PARA * 6
    + "<div>loose phrasing run <b>bold words</b> <div>" + _PARA + "</div></div>"
    + _PARA * 3
)

# negative class/id weights ("promo" is negative but NOT unlikely, so it
# survives into prep_article): clean_conditionally weight<0 detach +
# clean_headers negative-h2 detach (mod.rs:1322-1327, :1430-1442)
FX_NEG_WEIGHT_PROMO = _article(
    _PARA * 6
    + '<div id="promo"><span>Buy the promo thing</span><ul><li>a</li><li>b</li></ul></div>'
    + '<h2 class="promo">Promotional heading</h2>'
    + _PARA * 4
)

# <th> ancestor of a scored <p>: the h1-h6/th −5 prior (mod.rs:1130-1131)
FX_TH_PRIOR = _article(
    _PARA * 6
    + "<table><tbody><tr><th><p>A header cell paragraph long enough to be scored by the kernel here.</p></th>"
    + "<td><p>A data cell paragraph long enough to be scored by the kernel too.</p></td></tr></tbody></table>"
    + _PARA * 4
)

# fix_lazy_images: svg data-URI skip, data-srcset copy, figure-with-img
# append branch (mod.rs:1255-1305)
FX_LAZY_VARIANTS = _article(
    _PARA * 6
    + '<img class="lazy" src="data:image/svg+xml;base64,PHN2Zy8+" data-src="./real.jpg">'
    + '<img class="lazy" src="ph.jpg" data-srcset="./a.jpg 1x, ./b.jpg 2x">'
    + '<figure data-src="./fig.jpg"><img src="inner.jpg"></figure>'
    + _PARA * 4
)

# clean_conditionally's video-embed exemption: object + embed with video
# URLs shield their list-heavy containers (mod.rs:1331-1345)
FX_EMBED_SKIP = _article(
    _PARA * 6
    + '<div><object data="https://www.youtube.com/embed/xyz"></object><ul><li>x</li><li>y</li><li>z</li></ul></div>'
    + '<div><embed src="https://player.vimeo.com/video/1"><ul><li>x</li><li>y</li><li>z</li></ul></div>'
    + _PARA * 4
)

# <svg> skipped by presentational-attribute cleanup (mod.rs:1448-1452)
FX_SVG_ATTRS = _article(
    _PARA * 6
    + '<svg align="left" width="10" height="10"><circle cx="5" cy="5" r="4"></circle></svg>'
    + _PARA * 4
)

# lone h2 LONGER than the title within +50%: the rate>0 containment branch
# (mod.rs:1521-1529)
FX_LONE_H2_LONGER = _article(
    "<h2>Lone Heading Fixture Plus</h2>" + _PARA * 10,
    title="Lone Heading Fixture",
)

# <br> directly preceding a <p> is removed in prep_article (mod.rs:1546-1557)
FX_BR_BEFORE_P = _article(_PARA * 5 + "loose run of text<br>" + _PARA * 5)

# single-cell table whose cell holds a BLOCK child → unwrapped to <div>
# (mod.rs:1575-1585)
FX_SINGLE_CELL_DIV = _article(
    _PARA * 6
    + "<table><tbody><tr><td><div>A single cell, quite full of commas, clauses, "
    "and phrases, keeps this table, despite the ladder, alive, intact, and "
    "block-level, into a div, at the very end.</div></td></tr></tbody></table>"
    + _PARA * 4
)

# sibling merge: short link-free <p> without sentence punctuation appended;
# a scored <blockquote> sibling is renamed to <div> (mod.rs:2034-2052)
FX_SIBLING_SHORT = (
    "<!DOCTYPE html><html><head><title>Sibling short fixture</title></head><body>"
    '<div class="post body">' + _PARA * 6 + "</div>"
    + "<p>Adopt me now</p>"
    + "<blockquote>" + _PARA * 3 + "</blockquote>"
    + "</body></html>"
)

# URI edges: relative <base href>, IPv6-malformed href (urljoin ValueError
# passthrough), srcset rewrite (mod.rs:666-700, :727-757)
FX_URI_EDGES = (
    "<!DOCTYPE html><html><head><title>URI edge fixture</title>"
    '<base href="relative/dir/">'
    '</head><body><article id="main-content">'
    + _PARA * 6
    + '<img srcset="img-1x.jpg 1x, img-2x.jpg 2x" src="img.jpg">'
    + '<p><a href="//[bad-ipv6">busted link</a> and <a href="ok.html">fine</a></p>'
    + _PARA * 4
    + "</article></body></html>"
)

# absolute <base href> with NO path: normalization inserts "/" (mod.rs:651)
FX_BASE_NOPATH = (
    "<!DOCTYPE html><html><head><title>Base nopath fixture</title>"
    '<base href="https://cdn.example.net">'
    '</head><body><article id="main-content">'
    + _PARA * 6
    + '<img src="images/rel.jpg"><p><a href="page.html">rel link</a></p>'
    + _PARA * 4
    + "</article></body></html>"
)

# common-ancestor promotion that must CLIMB a level first (top candidate one
# level deeper than the ≥3 runners-up's shared parent, mod.rs:1916-1923)
_BALLAST_LINKS = "<ul>" + "".join(
    f'<li><a href="https://example.com/{i}">a very long chain of anchor text '
    f"keeps the bucket link density high number {i}</a></li>"
    for i in range(12)
) + "</ul>"
FX_PROMOTION_CLIMB = (
    "<!DOCTYPE html><html><head><title>Promotion climb fixture</title></head><body>"
    "<div id='wrap'>"
    "<div id='groupA'><div class='entry'>" + _PARA * 4 + "</div></div>"
    + ("<div class='entry'>" + _PARA * 3 + "</div>") * 3
    + _BALLAST_LINKS
    + "</div></body></html>"
)

# promotion to an UNSCORED ancestor (runners-up are level-2 candidates whose
# shared parent sits outside the 3-ancestor scoring depth): link-crushed
# inner candidates + plain ballast per branch (mod.rs:1925-1933)
_LINKP = (
    '<p><a href="https://example.com/l">a rather long anchor text chain that '
    "dominates, byte for byte, the paragraph body here</a> tail.</p>"
)
_PLAIN_BALLAST = "<ul>" + "".join(
    f"<li>plain unlinked filler prose item number {i} with several extra words of padding</li>"
    for i in range(8)
) + "</ul>"
_DEEP_BRANCH = (
    "<div class='a'>" + _PLAIN_BALLAST
    + "<div class='b'><div class='c'>" + _LINKP * 2 + "</div></div></div>"
)
FX_DEEP_PROMOTION = (
    "<!DOCTYPE html><html><head><title>Deep promotion fixture</title></head><body>"
    "<div id='outer'><div id='wrap'>" + _DEEP_BRANCH * 4 + "</div></div></body></html>"
)

# is_probably_visible: aria-hidden present but not "true" (mod.rs:871-874)
FX_ARIA_FALSE = _article(
    '<div aria-hidden="false"><p>visible aria content paragraph that stays.</p></div>'
    + _PARA * 8
)

# hrefless <base> skipped before the real one (mod.rs:656-659)
FX_BASE_HREFLESS = (
    "<!DOCTYPE html><html><head><title>Hrefless base fixture</title>"
    '<base target="_blank"><base href="https://cdn.example.net/sub/">'
    '</head><body><article id="main-content">'
    + _PARA * 6
    + '<img src="rel.jpg">'
    + _PARA * 4
    + "</article></body></html>"
)

# single-child chain over scored levels: parent-climb break at score/3,
# then the chain climb reaches an unscored node → late initialize
# (mod.rs:1947-1971)
FX_DEEP_CHAIN = (
    "<!DOCTYPE html><html><head><title>Deep chain fixture</title></head><body>"
    "<div id='l1'><div id='l2'><div id='l3'><div id='inner'>" + _PARA * 3 + "</div></div></div></div>"
    "</body></html>"
)

# parent climb UP: ancestor scores dip then rise above the running last
# score, moving the top candidate upward (mod.rs:1942-1945)
FX_CLIMB_UP = (
    "<!DOCTYPE html><html><head><title>Climb up fixture</title></head><body>"
    "<div id='a2'>" + _PARA * 3
    + "<div id='a1'><div id='t'>" + _PARA * 4 + "</div></div>"
    "</div></body></html>"
)


def fixture_corpus() -> list[dict[str, Any]]:
    """All fixture documents as ``documents``-table rows."""
    docs: list[tuple[str, str]] = [
        ("fx-simple", FX_SIMPLE),
        ("fx-extractor", FX_EXTRACTOR),
        ("fx-brs", FX_BRS),
        ("fx-prep-article", FX_PREP_ARTICLE),
        ("fx-grab-smoke", FX_GRAB_SMOKE),
        ("fx-grab-retry", FX_GRAB_RETRY),
        ("fx-grab-empty", FX_GRAB_EMPTY),
        ("fx-rel-uri", FX_REL_URI),
        ("fx-byline", FX_BYLINE),
        ("fx-visibility", FX_VISIBILITY),
        ("fx-unlikely", FX_UNLIKELY),
        ("fx-lazy-img", FX_LAZY_IMG),
        ("fx-data-tables", FX_DATA_TABLES),
        ("fx-clean-cond", FX_CLEAN_COND),
        ("fx-classweight", FX_CLASSWEIGHT),
        ("fx-phrasing", FX_PHRASING),
        ("fx-mega", FX_MEGA),
        ("fx-double-br", FX_DOUBLE_BR),
        ("fx-font", FX_FONT),
        ("fx-base-href", FX_BASE_HREF),
        ("fx-rtl", FX_RTL),
        ("fx-byline-rel", FX_BYLINE_REL),
        ("fx-lone-h2", FX_LONE_H2),
        ("fx-share", FX_SHARE),
        ("fx-siblings", FX_SIBLINGS),
        ("fx-js-links", FX_JS_LINKS),
        ("fx-video-poster", FX_VIDEO_POSTER),
        ("fx-css-quotes", FX_CSS_QUOTES),
        ("fx-title-sep", FX_TITLE_SEP),
        ("fx-title-hier", FX_TITLE_HIER),
        ("fx-title-colon", FX_TITLE_COLON),
        ("fx-blockquote", FX_BLOCKQUOTE),
        ("fx-lazy-b64", FX_LAZY_B64),
        ("fx-single-cell", FX_SINGLE_CELL),
        ("fx-promotion", FX_PROMOTION),
        ("fx-meta-double-esc", FX_META_DOUBLE_ESC),
        ("fx-title-colon-tail", FX_TITLE_COLON_TAIL),
        ("fx-title-colon-longpre", FX_TITLE_COLON_LONGPRE),
        ("fx-list-content", FX_LIST_CONTENT),
        ("fx-unicode", FX_UNICODE),
        ("fx-noscript-edge", FX_NOSCRIPT_EDGE),
        ("fx-style-brs", FX_STYLE_BRS),
        ("fx-brs-trailing", FX_BRS_TRAILING),
        ("fx-brs-p-in-p", FX_BRS_P_IN_P),
        ("fx-meta-surrogate", FX_META_SURROGATE),
        ("fx-title-short-hier", FX_TITLE_SHORT_HIER),
        ("fx-byline-itemprop", FX_BYLINE_ITEMPROP),
        ("fx-empty-complementary", FX_EMPTY_COMPLEMENTARY),
        ("fx-table-unlikely-depth", FX_TABLE_UNLIKELY_DEPTH),
        ("fx-grab-trailing-ws", FX_GRAB_TRAILING_WS),
        ("fx-neg-weight-promo", FX_NEG_WEIGHT_PROMO),
        ("fx-th-prior", FX_TH_PRIOR),
        ("fx-lazy-variants", FX_LAZY_VARIANTS),
        ("fx-embed-skip", FX_EMBED_SKIP),
        ("fx-svg-attrs", FX_SVG_ATTRS),
        ("fx-lone-h2-longer", FX_LONE_H2_LONGER),
        ("fx-br-before-p", FX_BR_BEFORE_P),
        ("fx-single-cell-div", FX_SINGLE_CELL_DIV),
        ("fx-sibling-short", FX_SIBLING_SHORT),
        ("fx-uri-edges", FX_URI_EDGES),
        ("fx-base-nopath", FX_BASE_NOPATH),
        ("fx-promotion-climb", FX_PROMOTION_CLIMB),
        ("fx-deep-promotion", FX_DEEP_PROMOTION),
        ("fx-deep-chain", FX_DEEP_CHAIN),
        ("fx-climb-up", FX_CLIMB_UP),
        ("fx-aria-false", FX_ARIA_FALSE),
        ("fx-base-hrefless", FX_BASE_HREFLESS),
    ]
    docs += [(f"fx-title-{i}", h) for i, h in enumerate(FX_TITLES)]
    docs += [(f"fx-meta-{i}", h) for i, h in enumerate(FX_META)]
    return [
        {"doc_id": doc_id, "spans": html_to_spans(html)} for doc_id, html in docs
    ]
