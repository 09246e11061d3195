"""Core text semantics, shared by the Spark pipeline (inside Arrow-batched
``mapInPandas``) and the pure-Python oracle — one implementation, zero
drift.

Semantics reproduced (NOT copied) from the reference:
  * tokenizer      /root/reference/src/analysis/tfidf.py:16-20
  * lemma n-grams  /root/reference/src/analysis/tfidf.py:22-35
  * sentence split /root/reference/src/analysis/tfidf.py:104
  * POS pattern    /root/reference/src/analysis/phrase_extractor.py:24-43
  * head noun      /root/reference/src/analysis/phrase_extractor.py:73-83
  * text extract   /root/reference/src/routers/views.py:54-57 is a plain
    UTF-8 decode; the HTML boilerplate-strip rule set is ours (pinned
    byte-exact by fixtures per BASELINE.json input_hint).
"""

from __future__ import annotations

import html as html_mod
import re
from functools import lru_cache

from .. import morphology as M

# Token = alnum run of >=2 chars (hyphen-joined parts each >=2), or a single
# punctuation char. 1-char words are silently dropped (implicit stopword).
TOKEN_RE = re.compile(
    r"[A-Za-zА-Яа-яёЁ0-9]{2,}(?:-[A-Za-zА-Яа-яёЁ0-9]{2,})*|[^\w\s]", re.UNICODE
)
# A window survives n-gram generation only if every token is word-like:
# punctuation is an n-gram boundary, never bridged.
WORDLIKE_RE = re.compile(r"[A-Za-zА-Яа-яёЁ0-9-]+")
SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
_PARA_RE = re.compile(r"<p>(.*?)</p>", re.S)

# Live POS patterns (consts.py:19-29). The two dead patterns
# (SUBSTANTIVE_WITH_PREPOSITION — 'предлог' never produced by POS_TAGS;
# ADVERBIAL_COMBINATION — nested tuple never matches) are intentionally
# omitted; first match wins, dict order preserved.
PATTERNS: list[tuple[str, str]] = [
    ("однословное", "С"),
    ("адъективное", "П С"),
    ("генитивное", "С С"),
    ("адъективное_многословное", "П П С"),
    ("генитивное_многословное", "С С С"),
    ("адъективно-генитивное", "С П С"),
    ("генитивно-адъективное", "П С С"),
]
PATTERN_BY_POS_SEQ = {seq: name for name, seq in PATTERNS}


def tokenize(text: str) -> list[str]:
    return TOKEN_RE.findall(text)


@lru_cache(maxsize=1 << 20)
def lemmatize_token(tok: str) -> str:
    """Hyphenated token -> lemmatize each part, re-join (tfidf.py:26-34).

    Memoized per worker process: token frequencies are Zipfian, so the
    hit rate approaches 1 on real corpora and the cache (bounded 2^20
    entries) turns the per-occurrence dictionary/OOV walk into a dict hit."""
    if "-" in tok:
        return "-".join(M.lemma_of(p) for p in tok.split("-"))
    return M.lemma_of(tok)


def lemma_ngrams(text: str, max_n: int = 3) -> list[str]:
    """All sliding lemma n-grams n=1..max_n whose windows contain only
    word-like tokens (with multiplicity — the TF source). Punctuation is
    a hard window boundary, so generation walks maximal word-like runs —
    no per-window boundary re-checks (multiset identical to the naive
    sliding form; consumers count, order is not part of the contract)."""
    out: list[str] = []
    run: list[str] = []
    wordlike = WORDLIKE_RE.fullmatch

    def flush() -> None:
        # unrolled for the production n<=3 (multiset and order identical
        # to the generic sliding form; saves a slice+join per window)
        out.extend(run)
        if max_n >= 2:
            out.extend(map(" ".join, zip(run, run[1:])))
        if max_n >= 3:
            out.extend(map(" ".join, zip(run, run[1:], run[2:])))
        for n in range(4, max_n + 1):
            for i in range(len(run) - n + 1):
                out.append(" ".join(run[i : i + n]))
        run.clear()

    for tok in tokenize(text):
        if wordlike(tok) is not None:
            run.append(lemmatize_token(tok))
        elif run:
            flush()
    if run:
        flush()
    return out


def pos_sequence(phrase: str) -> str:
    """Space-joined pattern letters of each word's POS (lemma re-parse
    semantics: the phrase is already lemmatized when classified)."""
    return " ".join(map(M.pos_letter, phrase.split()))


@lru_cache(maxsize=1 << 20)
def classify_pattern(phrase: str) -> str | None:
    """First-match-wins POS pattern classification (A6). Pure function of
    the lemmatized phrase string -> memoized per worker (distinct-ngram
    vocabularies are Zipfian; re-deriving per-word POS per occurrence was
    the analyze() hot spot)."""
    return PATTERN_BY_POS_SEQ.get(pos_sequence(phrase))


@lru_cache(maxsize=1 << 20)
def head_noun_lemma(phrase: str) -> str:
    """Rightmost NOUN's normal form, else '' (phrase_extractor.py:73-83).
    Memoized (pure function of the phrase string, same rationale as
    classify_pattern)."""
    for word in reversed(phrase.split()):
        if M.pos_of(word) == "NOUN":
            return M.lemma_of(word)
    return ""


def split_sentences(text: str) -> list[str]:
    return [s.strip() for s in SENT_SPLIT_RE.split(text) if s.strip()]


def extract_text(html_bytes: bytes) -> str:
    """Deterministic boilerplate strip. Plain (non-HTML) payloads are a
    UTF-8 decode, matching the reference extractor exactly on valid UTF-8
    (views.py:57); invalid bytes decode to U+FFFD instead of raising, so
    one malformed page cannot fail a whole job. HTML payloads: all <p>
    bodies, entity-unescaped, joined by blank lines — byte-identical to
    the authored text by construction."""
    s = html_bytes.decode("utf-8", errors="replace")
    if not s.startswith("<html"):
        return s
    return "\n\n".join(html_mod.unescape(p) for p in _PARA_RE.findall(s))
