"""Deterministic synthesizer for the ``pages`` input table.

BASELINE.json ``input_hint``: the production input is an Iceberg table of
Common-Crawl-style pages ``(url string, warc_ts timestamp, html binary,
text string, lang string)``. No such table exists in the sandbox, so we
synthesize one deterministically (seeded, no wall-clock, no external data)
at any scale, mirroring the reference's fixture genres
(/root/reference/text_examples/) with the frozen morphology vocabulary.

Embedded tokenizer edge cases (FIXTURES.md §5, reference semantics at
/root/reference/src/analysis/tfidf.py:16-35):
  * 1-char words      -> silently dropped by the token regex
  * hyphenated tokens -> lemmatized per part, re-joined with '-'
  * latin words/digits -> tokenized but POS=None => '?' => never match
  * punctuation        -> n-gram boundary (windows crossing it discarded)

The html wrapper is built so that ``extract.extract_text`` recovers the
``text`` column byte-identically (the per-url invariant in BASELINE.json).
A deterministic subset of rows is text/plain (html == utf-8 of text),
pinning the reference's plain decode path
(/root/reference/src/routers/views.py:54-57).
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import random

from . import morphology as M

_LATIN = ["spark", "data", "web", "graph", "crawl", "index"]
_ONE_CHAR = ["и", "а", "я", "в", "с"]
_DIGITS = ["2024", "2025", "100", "7"]
_PUNCT_END = [". ", "! ", "? "]
_LANG_TAIL = ["en", "es"]

_EPOCH = dt.datetime(2025, 1, 1, 0, 0, 0)


def _weighted_vocab() -> tuple[list[str], list[float]]:
    """Surfaces with sampling weights; head-entity noun forms over-sampled
    ~20x to create realistic head-entity skew (countries/celebrities)."""
    table = M.build_morphology()
    heads = set(M.head_entity_lemmas())
    surfaces, weights = [], []
    for surface, (lemma, _pos) in sorted(table.items()):
        surfaces.append(surface)
        weights.append(20.0 if lemma in heads else 1.0)
    return surfaces, weights


def _make_paragraph(rng: random.Random, surfaces: list[str], weights: list[float]) -> str:
    n_tokens = rng.randint(15, 60)
    words: list[str] = []
    for _ in range(n_tokens):
        roll = rng.random()
        if roll < 0.05:
            w = rng.choice(_ONE_CHAR)
        elif roll < 0.08:
            w = rng.choices(surfaces, weights)[0] + "-" + rng.choices(surfaces, weights)[0]
        elif roll < 0.11:
            w = rng.choice(_LATIN)
        elif roll < 0.13:
            w = rng.choice(_DIGITS)
        else:
            w = rng.choices(surfaces, weights)[0]
        words.append(w)

    # assemble sentences: 5-12 words, capitalized, comma sprinkled
    out: list[str] = []
    i = 0
    while i < len(words):
        k = min(rng.randint(5, 12), len(words) - i)
        sent = words[i : i + k]
        sent[0] = sent[0][0].upper() + sent[0][1:]
        if k > 6 and rng.random() < 0.5:
            sent[k // 2] = sent[k // 2] + ","
        out.append(" ".join(sent) + rng.choice(_PUNCT_END).strip())
        i += k
    return " ".join(out)


def _make_html(
    url: str,
    paragraphs: list[str],
    outlinks: list[str] | None = None,
    robots: str | None = None,
) -> bytes:
    body = "\n".join(f"<p>{html_mod.escape(p, quote=False)}</p>" for p in paragraphs)
    footer = "".join(
        f'<a href="{u}">ref{k}</a> ' for k, u in enumerate(outlinks or [])
    )
    meta = f'<meta name="robots" content="{robots}">' if robots else ""
    page = (
        "<html><head><title>"
        + html_mod.escape(url, quote=False)
        + "</title>"
        + meta
        + "<style>body{font-size:1em;color:#222}</style></head><body>"
        + '<nav><a href="/">home</a> | <a href="/about">about</a></nav>\n'
        + body
        + (f"\n<footer>{footer}</footer>" if footer else "")
        + '\n<script>var tracker = "analytics";</script></body></html>'
    )
    return page.encode("utf-8")


def page_outlinks(i: int) -> list[str]:
    """Deterministic cross-host hyperlinks for page ``i`` — a pure
    function of the page index (NO rng draws, so the text/lang/paragraph
    stream of every existing page is bit-identical to pre-link synth).

    The target mix models real web in-link skew: every HTML page links to
    one of 5 hub hosts (site0-site4 collect ~a fifth of hub edges each,
    the head-entity analogue at the host level), plus two mid-tail hosts
    spread by co-prime strides so the tail in-degree is near-uniform.
    Self-host links occur (when a stride lands on i % 50) and are kept:
    the edge extractor must filter them, and the fixture proves it."""
    targets = [i % 5, (3 + 7 * i) % 50, (11 + 13 * i) % 50]
    return [
        f"https://site{t}.example/page/{(i + 17 * (k + 1)) % 1000}"
        for k, t in enumerate(targets)
    ]


def synth_page(i: int, seed: int = 42) -> dict:
    """One deterministic page row — a pure function of (i, seed), so
    generation distributes across executors with no coordination and is
    stable under any total page count."""
    surfaces, weights = _weighted_vocab()
    rng = random.Random(f"{seed}:{i}")
    url = f"https://site{i % 50}.example/page/{i}"
    warc_ts = _EPOCH + dt.timedelta(seconds=37 * i)
    if rng.random() < 0.9:
        lang = "ru"
        paragraphs = [
            _make_paragraph(rng, surfaces, weights) for _ in range(rng.randint(2, 4))
        ]
    else:
        lang = _LANG_TAIL[i % len(_LANG_TAIL)]
        paragraphs = [
            " ".join(rng.choice(_LATIN) for _ in range(rng.randint(10, 30)))
            for _ in range(rng.randint(1, 2))
        ]
    text = "\n\n".join(paragraphs)
    if rng.random() < 0.1:
        html_bytes = text.encode("utf-8")  # text/plain path (views.py:57)
    else:
        # deterministic robots directives — a pure function of i (no rng
        # draws, so the text/lang/paragraph stream of every page is
        # bit-identical to pre-robots synth): ~1/13 of html pages opt out
        # of indexing, a further 1/17 are nofollow-only
        robots = (
            "noindex,nofollow"
            if i % 13 == 0
            else ("nofollow" if i % 17 == 0 else None)
        )
        html_bytes = _make_html(url, paragraphs, page_outlinks(i), robots)
    return {"url": url, "warc_ts": warc_ts, "html": html_bytes, "text": text, "lang": lang}


def synth_pages(n_pages: int, seed: int = 42) -> list[dict]:
    """Deterministic list of page rows (url, warc_ts, html, text, lang)."""
    return [synth_page(i, seed) for i in range(n_pages)]


def synth_alias_dict(seed: int = 42) -> list[dict]:
    """Entity-linking alias dictionary (FIXTURES.md §3): every noun lemma is
    an alias of a canonical entity; includes colliding aliases (one alias ->
    two entities) and near-miss aliases (edit distance 1) for MinHash
    blocking tests."""
    rng = random.Random(seed)
    rows = []
    eid = 0
    for lemma in M.noun_lemmas():
        eid += 1
        rows.append({"alias": lemma, "entity_id": eid, "canonical_name": lemma.upper()})
        if rng.random() < 0.15:  # near-miss alias: drop last char
            rows.append(
                {"alias": lemma[:-1], "entity_id": eid, "canonical_name": lemma.upper()}
            )
        if rng.random() < 0.08:  # colliding alias: points at two entities
            rows.append(
                {"alias": lemma, "entity_id": eid + 1000, "canonical_name": lemma.upper() + "_ALT"}
            )
    return rows
