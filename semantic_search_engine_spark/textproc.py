"""Deterministic text processing: HTML→text extraction and tokenization.

These are *plain Python functions* imported both by the single-node oracle
(``oracle.py``) and by the Spark pandas UDFs (``functions/udfs.py``). Sharing
one implementation is how we guarantee the per-row invariant from
BASELINE.json: extracted text is byte-identical per url between the Spark
pipeline and the reference single-node path (SURVEY.md §7.4).

Reference capability reproduced: Postgres ``to_tsvector('english', title)``
feeding the GIN inverted index (``data-pipeline/database.py:60``) — i.e. a
deterministic text→terms normalization ahead of posting construction. The
extractor itself is stdlib-only (no bs4/lxml): fixed entity table from
``html.entities``, explicit whitespace policy, NFC unicode normalization —
zero external version drift.
"""

from __future__ import annotations

import hashlib
import html
import re
import unicodedata
from html.parser import HTMLParser

# ---------------------------------------------------------------------------
# HTML → text
# ---------------------------------------------------------------------------

# Content inside these elements never reaches the extracted body text.
_SKIP_CONTENT_TAGS = frozenset(
    {"script", "style", "head", "nav", "noscript", "template", "svg", "iframe"}
)
# `title` lives inside <head>; we capture it separately for the field-scoped
# (title) index — the analogue of the reference's per-field search paths
# (`search-api/.../ProductRepository.java:119-150`).
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)

_WS_RE = re.compile(r"\s+")


class _Extractor(HTMLParser):
    """Streaming extractor: body text with boilerplate stripped + title."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._in_title = False
        self._body_parts: list[str] = []
        self._title_parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID_TAGS:
            self._body_parts.append(" ")
            return
        if tag == "title":
            self._in_title = True
        if tag in _SKIP_CONTENT_TAGS:
            self._skip_depth += 1
        # every element boundary is a word boundary
        self._body_parts.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self._in_title = False
        if tag in _SKIP_CONTENT_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        self._body_parts.append(" ")

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_parts.append(data)
        elif self._skip_depth == 0:
            self._body_parts.append(data)


def _normalize_ws(s: str) -> str:
    # " ".join(split()) is byte-equivalent to _WS_RE.sub(" ", s).strip():
    # SRE's unicode \s and str.split()'s whitespace predicate are both
    # Py_UNICODE_ISSPACE (pinned by test_normalize_ws_equivalence) — and
    # the split/join form runs ~2x faster on page-sized strings.
    return " ".join(s.split())


def extract_html_reference(html_bytes: bytes | None) -> tuple[str, str]:
    """Streaming HTMLParser extractor — the slow reference implementation.

    Kept for the differential test (`tests/test_textproc.py`): the fast
    regex extractor below must agree with it byte-for-byte on the entire
    synthetic corpus and every edge fixture.
    """
    if not html_bytes:
        return "", ""
    text = html_bytes.decode("utf-8", errors="replace")
    parser = _Extractor()
    try:
        parser.feed(text)
        parser.close()
    except Exception:
        # malformed markup: keep whatever was extracted before the failure
        pass
    title = unicodedata.normalize("NFC", _normalize_ws("".join(parser._title_parts)))
    body = unicodedata.normalize("NFC", _normalize_ws("".join(parser._body_parts)))
    return title, body


# Fast path: C-speed regex passes instead of a pure-Python tag-event loop.
# ~10x the HTMLParser throughput on Common-Crawl-sized pages; the extract
# UDF is the most expensive stage of the index build, so this is the
# single biggest docs/sec lever. Spec differences vs HTMLParser are
# confined to pathological markup — the differential test pins
# byte-equality on the full corpus and all edge fixtures, and pins the
# two ACCEPTED divergences explicitly (test_accepted_divergences):
#   * '</script>' hidden inside an HTML comment: the comment pass runs
#     first here, so the comment-wrapped closer is removed and the block
#     ends at the next real closer (close to HTML5's escaped-script-data
#     handling); HTMLParser treats script content as CDATA and ends the
#     block at the commented closer.
#   * '>' inside a quoted attribute value: the tag-strip regex ends the
#     tag at the first '>', leaking the attribute tail as text;
#     HTMLParser parses the attribute correctly. Damage is a few stray
#     tokens on rare markup — accepted for the ~10x throughput.
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.I | re.S)
_TITLE_OPEN_RE = re.compile(r"<title[^>]*>", re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
# Skip-content block removal runs at str.find (memchr) speed: a regex
# lazy-dot scan costs ~15 ns/char, which dominates extraction on
# page-sized inputs; find() moves at GB/s. Semantics (verified by the
# differential test): earliest valid opener wins; an opener whose `>` is
# preceded by `/` is self-closing and left to the tag strip; a block with
# no valid closer extends to EOF (as the streaming parser's skip-depth
# does); an opener with no `>` at all is literal text.
# "title" is in the body-strip list (its text goes ONLY to the title
# field, matching the streaming parser's in_title routing even for a
# <title> outside <head>); it is NOT a _SKIP_CONTENT_TAGS member there
# because the parser handles it via in_title instead of skip_depth.
_SKIP_TAGS_FAST = ("script", "style", "head", "nav", "noscript",
                   "template", "svg", "iframe", "title")
#: the body-strip tags remaining after the shared CDATA (script/style)
#: pass has already run
_NON_CDATA_SKIP_TAGS = ("head", "nav", "noscript", "template", "svg",
                        "iframe", "title")


def _find_valid(low: str, needle: str, start: int, n: int) -> int:
    """First occurrence of needle at a tag-name boundary (next char is not
    alphanumeric), or -1."""
    j = low.find(needle, start)
    while j != -1:
        k = j + len(needle)
        if k >= n or not low[k].isalnum():
            return j
        j = low.find(needle, j + 1)
    return j


def _strip_skip_blocks(text: str,
                       tags: tuple[str, ...] = None) -> str:
    if tags is None:
        tags = _SKIP_TAGS_FAST
    low = text.lower()
    n = len(text)
    out: list[str] = []
    i = 0
    # Per-tag cache of the next valid opener at-or-after i. A cached hit
    # at position >= i stays valid as i only moves forward, so each tag's
    # find() scan advances monotonically through the string — O(n) total
    # per tag — instead of re-scanning from i on every loop iteration
    # (which re-paid the full distance to a far-away tag once per nearby
    # block). Same semantics, verified by the differential test.
    nxt_pos = [_find_valid(low, "<" + t, 0, n) for t in tags]
    while i < n:
        nxt, tag = -1, None
        for ti, t in enumerate(tags):
            j = nxt_pos[ti]
            if j != -1 and j < i:
                j = _find_valid(low, "<" + t, i, n)
                nxt_pos[ti] = j
            if j != -1 and (nxt == -1 or j < nxt):
                nxt, tag = j, t
        if nxt == -1:
            out.append(text[i:])
            break
        out.append(text[i:nxt])
        gt = low.find(">", nxt)
        if gt == -1:          # unterminated opener: literal '<', continue
            out.append("<")
            i = nxt + 1
            continue
        if low[gt - 1] == "/":  # self-closing: plain tag, not a block
            out.append(text[nxt:gt + 1])
            i = gt + 1
            continue
        close = _find_valid(low, "</" + tag, gt + 1, n)
        out.append(" ")
        if close == -1:       # unclosed block: skip to EOF
            break
        cgt = low.find(">", close)
        if cgt == -1:
            break
        i = cgt + 1
    return "".join(out)
_TAG_RE = re.compile(r"<[^>]*>")  # also covers doctype/comment remnants


def extract_html(html_bytes: bytes | None) -> tuple[str, str]:
    """(title, body_text) from raw HTML bytes. Deterministic.

    Policy (fixed — part of the byte-identity contract):
      * bytes decoded as UTF-8 with ``errors="replace"``
      * script/style/head/nav/noscript/template/svg/iframe content dropped
      * entities decoded via the stdlib table (after tag removal, so
        literal ``&lt;x&gt;`` in text survives as ``<x>``)
      * element boundaries become single spaces; whitespace runs collapse
      * output is NFC-normalized
    """
    if not html_bytes:
        return "", ""
    text = html_bytes.decode("utf-8", errors="replace")
    nocomment = _COMMENT_RE.sub(" ", text)
    # One CDATA pass shared by title and body — mirrors HTMLParser's event
    # model: comments never fire tag events and ONLY script/style are
    # CDATA (a commented-out or script-quoted <title> is not a title; one
    # inside head/nav/svg IS; a '</head>' inside a script is not an end
    # tag). Splitting the strip into CDATA-first + rest also halves the
    # find-scan work vs two independent full-tag passes.
    nocdata = _strip_skip_blocks(nocomment, ("script", "style"))
    # ALL title elements concatenated (no separator), matching the
    # streaming parser's in_title accumulation across duplicate <title>s;
    # an unterminated final <title> captures to EOF like in_title does
    parts, pos = [], 0
    for m in _TITLE_RE.finditer(nocdata):
        parts.append(m.group(1))
        pos = m.end()
    tail = _TITLE_OPEN_RE.search(nocdata, pos)
    if tail:
        parts.append(nocdata[tail.end():])
    raw_title = "".join(parts)
    body = _strip_skip_blocks(nocdata, _NON_CDATA_SKIP_TAGS)
    # no separate doctype pass: every _DOCTYPE_RE match ("<!...>") is a
    # _TAG_RE match ("<...>") with the same " " replacement
    body = _TAG_RE.sub(" ", body)
    body = html.unescape(body)
    title = html.unescape(_TAG_RE.sub(" ", raw_title))
    return (unicodedata.normalize("NFC", _normalize_ws(title)),
            unicodedata.normalize("NFC", _normalize_ws(body)))


def extract_text(html_bytes: bytes | None) -> str:
    """Body text only — the column the inverted index is built over."""
    return extract_html(html_bytes)[1]


def resolve_text(text: str | None, html_bytes: bytes | None,
                 prefer_provided: bool = True) -> str | None:
    """Resolve the indexable text for a document row.

    FIXTURES.md §1: `text` is pre-extracted for ~10% of rows; config decides
    whether to trust it. Returns None when the row has no usable content
    (the validity-filter analogue of ``data_ingestion.py:100-103``).
    """
    if prefer_provided and text is not None:
        return text
    if html_bytes:
        return extract_text(html_bytes)
    if text is not None:
        return text
    return None


# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------

# ASCII-alnum runs over lowercased text. Chosen because the identical rule is
# expressible in Spark (`regexp_extract_all(lower(text), '[a-z0-9]+', 0)`),
# DuckDB (`regexp_extract_all(lower(text), '[a-z0-9]+')`) and Python — so the
# DuckDB correctness oracle can replay tokenization exactly.
TOKEN_RE = re.compile(r"[a-z0-9]+")
TOKEN_PATTERN_SQL = "[a-z0-9]+"
MAX_TOKEN_LEN = 64
# fast-path witness: one C-speed scan proving no token can exceed the
# default cap, which lets tokenize() return findall() output unfiltered
_OVERLONG_RE = re.compile(r"[a-z0-9]{%d,}" % (MAX_TOKEN_LEN + 1))


def tokenize(text: str | None, max_token_len: int = MAX_TOKEN_LEN,
             min_token_len: int = 1,
             analyzer: str = "simple") -> list[str]:
    if not text:
        return []
    if analyzer != "simple" and analyzer != "english":
        # unaccent analyzers fold BEFORE the ASCII token regex — after
        # tokenization would be too late ([a-z0-9]+ treats é as a
        # separator and "café" would already have split to "caf")
        from .functions.stem import UNACCENT_ANALYZERS, fold_accents
        if analyzer in UNACCENT_ANALYZERS:
            text = fold_accents(text)
    low = text.lower()
    toks = TOKEN_RE.findall(low)
    # default-config fast path: min<=1 never drops, and if no run of
    # MAX_TOKEN_LEN+1 exists then every token is <= MAX_TOKEN_LEN <= max
    if not (min_token_len <= 1 and max_token_len >= MAX_TOKEN_LEN
            and _OVERLONG_RE.search(low) is None):
        toks = [t for t in toks
                if min_token_len <= len(t) <= max_token_len]
    if analyzer != "simple":
        from .functions.stem import analyze_tokens
        toks = analyze_tokens(toks, analyzer)
    return toks


def token_positions(text: str | None, max_token_len: int = MAX_TOKEN_LEN,
                    min_token_len: int = 1,
                    analyzer: str = "simple") -> dict[str, list[int]]:
    """term → sorted 0-based positions in the *kept* token stream.

    Positions index the output of :func:`tokenize` (after the length
    filter and the configured analyzer), so ``positions`` and ``tf_map``
    agree exactly: ``len(positions[t]) == tf_map[t]`` and max position ==
    doc_len-1. This is the tsvector-style payload behind phrase
    ("a <-> b") and proximity search — the capability Postgres adds on
    top of the GIN term index the reference creates
    (``data-pipeline/database.py:60``). Analyzer note: with
    ``analyzer="english"`` positions index the post-stopword KEPT stream
    (renumbered), unlike Postgres, which preserves original word
    offsets across removed stopwords — adjacency here means "adjacent
    after stopword removal", so the phrase "jump fox" matches text
    "jumped over the fox" (documented divergence).
    """
    out: dict[str, list[int]] = {}
    for i, t in enumerate(tokenize(text, max_token_len, min_token_len,
                                   analyzer)):
        out.setdefault(t, []).append(i)
    return out


def phrase_match_count(positions: dict[str, list[int]],
                       phrase_terms: list[str]) -> int:
    """Number of start offsets where ``phrase_terms`` occur consecutively.

    Pure-Python reference semantics (oracle + recheck path): position p
    matches iff term[i] has position p+i for every i. Overlapping matches
    all count ("a a a" contains "a a" twice).
    """
    if not phrase_terms:
        return 0
    first = positions.get(phrase_terms[0])
    if first is None:
        return 0
    cands = first
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = positions.get(t)
        if not nxt:
            return 0
        s = set(nxt)
        cands = [p for p in cands if p + i in s]
        if not cands:
            return 0
    return len(cands)


def min_window_span(positions: dict[str, list[int]],
                    terms: list[str]) -> int | None:
    """Smallest token-span (inclusive, in tokens) of a window containing
    every distinct term in ``terms`` at least once; None when some term is
    absent. Span 1 means a single position (one distinct term). The
    classic k-sorted-lists minimum-window sweep — proximity search's
    "all terms within N tokens" predicate is ``span <= N``."""
    uniq = sorted(set(terms))
    lists = []
    for t in uniq:
        pl = positions.get(t)
        if not pl:
            return None
        lists.append(pl)
    return min_window_span_lists(lists)


def min_window_span_lists(lists) -> int:
    """THE k-sorted-lists minimum-window sweep core — smallest inclusive
    span covering one element from every list. One definition shared by
    :func:`min_window_span` (dict form, snippets/recheck path) and the
    positional kernel (``plans/phrase.py``, numpy position arrays): the
    two retrieval paths are pinned result-identical, so their window
    semantics must come from the same code. Lists must be sorted
    ascending and non-empty; accepts plain lists or numpy arrays."""
    if len(lists) == 1:
        return 1
    import heapq as _hq
    heads = [(int(pl[0]), i, 0) for i, pl in enumerate(lists)]
    _hq.heapify(heads)
    cur_max = max(h[0] for h in heads)
    best = None
    while True:
        pos, li, pi = heads[0]
        span = cur_max - pos + 1
        if best is None or span < best:
            best = span
        if pi + 1 >= len(lists[li]):
            return best
        nxt = int(lists[li][pi + 1])
        _hq.heapreplace(heads, (nxt, li, pi + 1))
        cur_max = max(cur_max, nxt)


def min_ordered_window_span_lists(lists) -> int | None:
    """Ordered-window sweep core — smallest inclusive span of a chain
    p0 < p1 < ... < p_{n-1} taking one position from each list IN ORDER
    (Lucene ``SpanNearQuery(inOrder=true)``; Postgres has no ordered-
    proximity operator, so this follows Lucene's). ``lists`` are the
    query terms' sorted position arrays in QUERY order — a repeated term
    contributes its (same) list once per occurrence, and the strict
    ``<`` chain forces distinct positions for repeats. None when no
    ordered chain exists. Greedy is exact: for a fixed start, picking
    the smallest valid next position at every step minimises the chain
    end, so scanning starts ascending finds the global minimum; the
    per-list cursors only move forward → O(Σ|lists|) total."""
    if len(lists) == 1:
        return 1 if len(lists[0]) else None
    ptrs = [0] * len(lists)
    best: int | None = None
    for p0 in lists[0]:
        prev = int(p0)
        for i in range(1, len(lists)):
            li, j = lists[i], ptrs[i]
            while j < len(li) and int(li[j]) <= prev:
                j += 1
            ptrs[i] = j
            if j >= len(li):
                return best  # later starts can't help: cursor exhausted
            prev = int(li[j])
        span = prev - int(p0) + 1
        if best is None or span < best:
            best = span
    return best


def min_ordered_window_span(positions: dict[str, list[int]],
                            terms: list[str]) -> int | None:
    """Dict-form ordered window (recheck / brute-force path) — smallest
    span containing the query terms in query order; None when absent.
    Delegates to :func:`min_ordered_window_span_lists` so the positional
    kernel and the recheck path can never drift apart."""
    lists = []
    for t in terms:
        pl = positions.get(t)
        if not pl:
            return None
        lists.append(pl)
    if not lists:
        return None
    return min_ordered_window_span_lists(lists)


# ---------------------------------------------------------------------------
# Snippets (ts_headline parity)
# ---------------------------------------------------------------------------

def make_snippet(text: str | None, query_terms: list[str],
                 max_words: int = 35, start_sel: str = "<b>",
                 stop_sel: str = "</b>",
                 max_token_len: int = MAX_TOKEN_LEN,
                 min_token_len: int = 1,
                 analyzer: str = "simple") -> str:
    """Highlighted fragment around the best query-term window — the
    engine's ``ts_headline`` (the result-decoration half of the Postgres
    full-text stack whose index half the reference builds,
    ``data-pipeline/database.py:60``).

    Deterministic choice: among windows of ``max_words`` consecutive kept
    tokens, pick the one maximizing (distinct query terms covered, total
    query-term occurrences, earliest start). The returned fragment is the
    original text span of that window with every query-term token wrapped
    in ``start_sel``/``stop_sel``, and an ellipsis marking each clipped
    side. No query term present → the leading ``max_words`` tokens,
    unhighlighted.

    ``analyzer``: with ``"english"``, ``query_terms`` are expected in
    analyzed (stemmed) form and each text token is stemmed before the
    hit test, so a query term ``run`` highlights ``running`` in the
    original text — exactly ``ts_headline`` over an english
    configuration. Stopwords never highlight (they are not index terms).
    """
    if not text:
        return ""
    qset = {t for t in query_terms
            if min_token_len <= len(t) <= max_token_len}
    # kept tokens with char spans — same filter as tokenize()
    spans = [(m.start(), m.end(), m.group())
             for m in TOKEN_RE.finditer(text.lower())
             if min_token_len <= len(m.group()) <= max_token_len]
    if analyzer != "simple":
        from .functions.stem import analyze_tokens
        memo: dict[str, str] = {}
        for t in {t for _a, _b, t in spans}:
            a = analyze_tokens([t], analyzer)
            memo[t] = a[0] if a else ""
        spans = [(a, b, memo[t]) for a, b, t in spans]
    if not spans:
        return ""
    n = len(spans)
    is_hit = [t in qset for _s, _e, t in spans]
    w = min(max_words, n)
    best = None  # (distinct, hits, -start) maximized
    starts = [i for i in range(n) if is_hit[i]] or [0]
    for s in starts:
        s = min(s, n - w)
        window = spans[s:s + w]
        terms_in = {t for (_a, _b, t), h in zip(window, is_hit[s:s + w])
                    if h}
        hits = sum(is_hit[s:s + w])
        key = (len(terms_in), hits, -s)
        if best is None or key > best[0]:
            best = (key, s)
    s = best[1]
    window = spans[s:s + w]
    lo, hi = window[0][0], window[-1][1]
    out = []
    if s > 0:
        out.append("... ")
    pos = lo
    for a, b, t in window:
        out.append(text[pos:a])
        if t in qset:
            out.append(start_sel + text[a:b] + stop_sel)
        else:
            out.append(text[a:b])
        pos = b
    if s + w < n:
        out.append(" ...")
    return "".join(out)


# ---------------------------------------------------------------------------
# Stable doc ids
# ---------------------------------------------------------------------------

def doc_id_for_url(url: str) -> int:
    """60-bit stable doc id: first 15 hex chars of sha256(url).

    Parallelism-independent (unlike ``monotonically_increasing_id``) and
    reproducible in Spark as
    ``conv(substring(sha2(url,256),1,15),16,10).cast('long')`` and in DuckDB.
    Collisions are audited at build time (count distinct url == doc_id);
    the analogue of the reference's unique key on ``asin``
    (``data-pipeline/database.py:28``).
    """
    return int(hashlib.sha256(url.encode("utf-8")).hexdigest()[:15], 16)


def doc_bucket(doc_id: int, n_buckets: int) -> int:
    """Range bucket over the 60-bit doc-id space.

    Range (not modulo) bucketing means per-bucket posting lists concatenated
    in bucket order are globally doc_id-sorted — the property the block-max
    WAND scan and delta encoding rely on.
    """
    return int(doc_id // ((1 << 60) // n_buckets + 1))


# Pure-Python XXH64 (Collet's public xxHash spec, github.com/Cyan4973/
# xxHash/blob/dev/doc/xxhash_spec.md) — the mirror of Spark's ``xxhash64``
# expression (seed 42, UTF-8 bytes of the string input, result as a
# SIGNED 64-bit long). The near-dedup oracle reproduces the engine's
# MinHash signatures with it, and the query path computes a term's
# postings bucket with it (:func:`term_bucket`) without asking the JVM.
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxround(acc: int, inp: int) -> int:
    return (_rotl((acc + inp * _XP2) & _M64, 31) * _XP1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64(data, seed) as a SIGNED 64-bit integer (Spark semantics)."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i <= n - 32:
            v1 = _xxround(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxround(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xxround(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xxround(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= _xxround(0, v)
            h = (h * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxround(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _XP1) & _M64
        h = (_rotl(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """Hash bucket of a term in the postings layout: Spark's
    ``pmod(xxhash64(term), n)`` (``functions.udfs.term_bucket_expr``).
    Python's ``%`` of a positive modulus is non-negative, as ``pmod``."""
    return xxhash64(term.encode("utf-8")) % n_buckets
