"""Seeded benchmark inputs.

Every input is a pure function of ``(workload, seed, size)`` and of this
file's source plus the frozen generators it calls.  Generated files are
cached under ``.perfbench/cache/<key>`` where the key digests all of that,
so editing a generator can never serve a stale corpus.

* ``articles``: documents from the frozen ``spans.synthetic.synth_document``
  over an index window that starts at a seed-chosen offset.  The window is
  filled with exactly 1% heavy (40x) and 0.1% mega (400x) documents, so
  every seed has the same heavy tail and only the documents differ.
* ``crawl_waves``: crawl-like pages encoded with
  ``spans.codec.html_to_spans`` — articles over a wide vocabulary, short
  listing pages and empty stub pages, plus planted re-crawls (same URL,
  mirror copy, one-word edit) of articles from earlier waves.

The crawl mix is set from targets, not from a traffic claim (no crawl log
is at hand):

* junk pages (listings + stubs) are JUNK_SHARE of a wave, so that about a
  quarter of the kernel's time goes to its flag-degradation retry path
  (every junk page takes 4 grab attempts, an article one).  The traced run
  of seed 5 measured a junk page at ~1.4x an article's kernel time
  (``kernel.retry_share`` 0.17 at a junk share of 1/8); a junk share p
  then spends 1.4p / (1.4p + 1 - p) of kernel time on retries, 1/4 at
  p = 0.19.  Every traced run reports the share it got as
  ``kernel.retry_share``.
* stubs are 1/5 of the junk (9 pages at 240 docs): enough that the
  empty-page branch runs in every wave and on every task.
* re-crawls are 1/8 of every wave after the bootstrap, split evenly over
  the three kinds (10 of each at 240 docs), so each funnel reject stage
  the wave check reconciles sees several documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from . import common

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def _source_digest() -> str:
    """Digest of every generator source an input depends on."""
    root = common.repo_root()
    h = hashlib.sha256()
    for rel in (
        "perfbench/gen.py",
        "paperoni_spark/spans/synthetic.py",
        "paperoni_spark/spans/codec.py",
    ):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached(workload: str, seed: int, size: dict, build) -> str:
    """Directory holding the inputs for this key; ``build(dir)`` fills it
    on a miss.  A half-built directory is never served (built in a temp
    dir, then renamed)."""
    key = json.dumps([workload, seed, size, _source_digest()], sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:20]
    path = os.path.join(common.work_root(), "cache", f"{workload}-{digest}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(key)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        _evict(os.path.dirname(path))
    return path


def _evict(cache: str, keep: int = 8) -> None:
    """Keep only the ``keep`` newest input sets."""
    entries = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in entries[:-keep]:
        shutil.rmtree(old, ignore_errors=True)


def write_docs(path: str, docs: list[dict], n_files: int) -> None:
    """Write documents as ``n_files`` parquet files of nearly equal bytes
    (largest document first onto the lightest file), rows in doc order
    within each file.  Equal files make Spark's split packing, and so the
    task count, the same for every seed."""
    os.makedirs(path, exist_ok=True)

    def size(d):
        return sum(len(s["text"] or "") + len(s["media_ref"] or "") for s in d["spans"])

    files: list[list[int]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for i in sorted(range(len(docs)), key=lambda i: -size(docs[i])):
        f = load.index(min(load))
        files[f].append(i)
        load[f] += size(docs[i])
    for f, idx in enumerate(files):
        if not idx:
            continue
        table = pa.Table.from_pylist(
            [{"doc_id": docs[i]["doc_id"], "spans": docs[i]["spans"]} for i in sorted(idx)],
            schema=DOCS_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# ------------------------------------------------------------------ articles


def article_indices(seed: int, n_docs: int) -> dict[str, list[int]]:
    """Doc indices for the ``articles`` corpus, by size tier."""
    from paperoni_spark.spans.synthetic import n_paragraphs_for

    quota = {"mega": n_docs // 1000, "heavy": n_docs // 100}
    quota["normal"] = n_docs - quota["mega"] - quota["heavy"]
    picked: dict[str, list[int]] = {k: [] for k in quota}
    i = random.Random(seed).randrange(10**8)
    while any(len(picked[k]) < quota[k] for k in quota):
        n = n_paragraphs_for(i)
        tier = "mega" if n == 4000 else "heavy" if n == 400 else "normal"
        if len(picked[tier]) < quota[tier]:
            picked[tier].append(i)
        i += 1
    return picked


def articles_input(seed: int, n_docs: int, n_files: int) -> tuple[str, dict]:
    """Parquet corpus for ``articles``; returns (dir, tiers by doc_id)."""
    from paperoni_spark.spans.synthetic import synth_document

    tiers = article_indices(seed, n_docs)

    def build(tmp: str) -> None:
        order = sorted(i for idx in tiers.values() for i in idx)
        write_docs(os.path.join(tmp, "docs"), [synth_document(i) for i in order], n_files)

    path = cached("articles", seed, {"n_docs": n_docs, "n_files": n_files}, build)
    by_id = {f"doc-{i:010d}": t for t, idx in tiers.items() for i in idx}
    return os.path.join(path, "docs"), by_id


# --------------------------------------------------------------- crawl pages

_SYLLABLES = (
    "ka ri to ne mo la su vi de pa ro gi lu be sa no te mi fa du ko re "
    "zu ha ye bo ti ga ple stra ven dor mik tal quen brin sol"
).split()
_STOP = ("the", "and", "of", "to", "in", "a", "is", "for", "on")


def _vocabulary(n_words: int = 12000) -> list[str]:
    rng = random.Random("perfbench-vocabulary")
    words: set[str] = set()
    while len(words) < n_words:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocabulary()
_VOCAB_SET = frozenset(VOCAB)


def _sentence(rng: random.Random) -> str:
    words = [
        rng.choice(_STOP) if rng.random() < 0.12 else rng.choice(VOCAB)
        for _ in range(rng.randint(8, 18))
    ]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _chrome(rng: random.Random, title: str, body: str) -> str:
    links = "".join(
        f'<a href="/s/{rng.choice(VOCAB)}">{rng.choice(VOCAB).title()}</a>'
        for _ in range(rng.randint(3, 8))
    )
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{title} | {rng.choice(VOCAB).title()} News</title>"
        f'<meta name="author" content="{rng.choice(VOCAB).title()} Writer">'
        "</head><body>"
        f'<header class="banner"><div class="menu">{links}</div></header>'
        f'<div class="sidebar widget">{rng.choice(VOCAB)} related links</div>'
        f"{body}"
        '<div class="comments"><p>First comment!</p></div>'
        '<footer class="footer">Copyright 2026</footer>'
        "</body></html>"
    )


def _article_html(rng: random.Random, wave: int, i: int) -> str:
    paras = []
    for p in range(rng.randint(5, 12)):
        paras.append("<p>" + " ".join(_sentence(rng) for _ in range(rng.randint(3, 6))) + "</p>")
        if rng.random() < 0.15:
            paras.append(f'<img src="https://img.example.com/{wave}/{i}/{p}.jpg">')
    title = " ".join(rng.choice(VOCAB) for _ in range(4)).title()
    return _chrome(rng, title, f'<article class="post-body">{"".join(paras)}</article>')


def _listing_html(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/a/{rng.choice(VOCAB)}">'
        f'{" ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 4)))}</a></li>'
        for _ in range(rng.randint(12, 30))
    )
    return _chrome(
        rng,
        "Latest stories",
        f'<div class="listing"><h2>Latest</h2><ul>{items}</ul>'
        f"<p>{_sentence(rng)}</p></div>",
    )


def _stub_html(rng: random.Random) -> str:
    return (
        "<!DOCTYPE html><html><head><title>Loading</title></head><body>"
        f'<div class="spinner" id="app-{rng.randrange(10**6)}"></div>'
        "<script>window.boot();</script></body></html>"
    )


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def simhash64(text: str) -> int:
    """Python twin of ``operators.dedup.simhash`` at 64 bits (unsigned)."""
    sums = [0] * 64
    for tok in re.split(r"\s+", text.strip()):
        h = hashlib.md5(tok.encode()).hexdigest()
        for j in range(64):
            bit = (int(h[j // 4], 16) >> (j % 4)) & 1
            sums[j] += 1 if bit else -1
    return sum(1 << j for j in range(64) if sums[j] > 0)


def extracted_text(html: str) -> str:
    """The text the corpus job fingerprints: extracted text spans joined
    by one space (``pipeline.compose.extracted_text``)."""
    from paperoni_spark.spans.codec import extract_document, html_to_spans

    r = extract_document("x", html_to_spans(html))
    return " ".join(s["text"] for s in r["extracted"] if s["kind"] == "text")


def _one_word_edit(rng: random.Random, html: str) -> str:
    """Replace one vocabulary word inside the article body so that the
    extracted text stays within SimHash Hamming distance 2 of the
    original (the corpus job rejects up to 3)."""
    base = simhash64(extracted_text(html))
    start = html.index('<article class="post-body">')
    spots = [m for m in re.finditer(r"\b[a-z]{4,}\b", html) if m.start() > start]
    for _ in range(50):
        m = rng.choice(spots)
        new = rng.choice(VOCAB)
        if m.group(0) not in _VOCAB_SET or new == m.group(0):
            continue
        edited = html[: m.start()] + new + html[m.end() :]
        if _hamming(base, simhash64(extracted_text(edited))) <= 2:
            return edited
    raise RuntimeError("no near-duplicate edit found")


JUNK_SHARE = 0.19  # listing + stub pages per wave; see the module docstring


def crawl_waves_input(seed: int, n_waves: int, wave_docs: int) -> tuple[str, list[dict]]:
    """Parquet input per wave (``wave000``, ...) plus its manifest: per
    wave, the doc ids of each page kind."""

    def build(tmp: str) -> None:
        from paperoni_spark.spans.codec import html_to_spans

        manifest: list[dict] = []
        originals: list[tuple[str, str]] = []  # (doc_id, html) of earlier articles
        for w in range(n_waves):
            rng = random.Random(f"{seed}:crawl:{w}")
            n_recrawl = 0 if w == 0 else wave_docs // 8
            n_junk = round(wave_docs * JUNK_SHARE)
            n_stub = n_junk // 5
            n_listing = n_junk - n_stub
            n_article = wave_docs - n_recrawl - n_listing - n_stub
            pages: list[tuple[str, str, str]] = []  # (kind, doc_id, html)
            for i in range(n_article):
                pages.append(("article", f"crawl-{w:03d}-{i:05d}", _article_html(rng, w, i)))
            for i in range(n_listing):
                pages.append(("listing", f"crawl-{w:03d}-L{i:04d}", _listing_html(rng)))
            for i in range(n_stub):
                pages.append(("stub", f"crawl-{w:03d}-S{i:04d}", _stub_html(rng)))
            for j, (orig_id, html) in enumerate(rng.sample(originals, n_recrawl)):
                if j % 3 == 0:  # the same URL crawled again: same doc id
                    pages.append(("recrawl_same_id", orig_id, html))
                elif j % 3 == 1:  # a mirror copy under a new id
                    pages.append(("recrawl_copy", f"crawl-{w:03d}-R{j:04d}", html))
                else:
                    edited = _one_word_edit(rng, html)
                    pages.append(("recrawl_edit", f"crawl-{w:03d}-R{j:04d}", edited))
            rng.shuffle(pages)
            originals += [(d, h) for k, d, h in pages if k == "article"]
            docs = [{"doc_id": d, "spans": html_to_spans(h)} for _, d, h in pages]
            write_docs(os.path.join(tmp, f"wave{w:03d}"), docs, 4)
            kinds: dict[str, list[str]] = {}
            for k, d, _ in pages:
                kinds.setdefault(k, []).append(d)
            manifest.append(kinds)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    path = cached("crawl_waves", seed, {"n_waves": n_waves, "wave_docs": wave_docs}, build)
    with open(os.path.join(path, "manifest.json")) as f:
        return path, json.load(f)
