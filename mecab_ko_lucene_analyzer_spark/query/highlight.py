"""Term highlighting (Q9, ``highlight/TermHighlightingQuery.java:26``).

The reference wraps Lucene's highlighter around its custom query; here
highlighting is a pure function over the analyzer's token offsets: the
document is re-analyzed (offsets are produced by the same chain that
indexed it), tokens matching the query terms are turned into spans, and
overlapping/adjacent spans merge.
"""

from __future__ import annotations

from ..analysis.tokenizer import tokenize

__all__ = [
    "highlight_spans",
    "phrase_highlight_spans",
    "whitespace_highlight_spans",
    "highlight",
]


def _merge(spans: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort + merge overlapping/adjacent (start, end) spans — compound
    decompositions (삼성전자 → 삼성/전자) and same-position extra terms
    (EOJEOL 검색은 over 검색) produce overlaps that must render as ONE
    highlighted region, matching Lucene's merged-passage behavior."""
    spans = sorted(spans)
    merged: list[tuple[int, int]] = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def whitespace_highlight_spans(
    text: str | None, query_terms: set[str] | list[str]
) -> list[tuple[int, int]]:
    """:func:`highlight_spans` over the plain whitespace tokenization —
    the SQL-replicable variant used by the driver contract (the Korean
    chain's spans are pinned by the golden suite instead; DuckDB cannot
    run the analyzer). Same term-SET model and the same ``_merge``:
    every occurrence of any (lowercased) query term yields its
    (start, end) char span. Offsets count single-space separators, so
    consecutive spaces shift later tokens exactly as ``str.split(' ')``
    sees them."""
    if not text:
        return []
    lowered = set(t.lower() for t in query_terms)
    spans = []
    start = 0
    for tok in text.split(" "):
        if tok and tok.lower() in lowered:
            spans.append((start, start + len(tok)))
        start += len(tok) + 1
    return _merge(spans)


def highlight_spans(
    text: str,
    query_terms: set[str] | list[str],
    mode: str = "standard",
    compound_noun_min_length: int = 3,
) -> list[tuple[int, int]]:
    """Merged (start, end) char spans of tokens whose term matches.

    Term-SET semantics, exactly the reference highlighter's model:
    ``TermHighlightingQuery.java:30-48`` dedups the query's terms and
    rewrites to a flat ``SHOULD`` boolean — every occurrence of any
    term highlights, independent of query structure."""
    lowered = set(t.lower() for t in query_terms)
    spans = []
    for p in tokenize(text, mode, compound_noun_min_length):
        if p.token_string().lower() in lowered or p.surface.lower() in lowered:
            spans.append((p.start_offset, p.end_offset))
    return _merge(spans)


def phrase_highlight_spans(
    text: str,
    phrase_terms: list[str],
    slop: int = 0,
    mode: str = "standard",
    compound_noun_min_length: int = 3,
) -> list[tuple[int, int]]:
    """Char spans of tokens participating in an in-order phrase window
    within ``slop`` — the executor's phrase semantics (each
    next term at a position in ``(prev, prev + 1 + slop]``, EXISTS
    semantics over all candidate chains — greedy first-match is wrong
    for slop >= 1: the earliest candidate in one window can dead-end
    the next window even though a later candidate completes the chain)
    applied at highlight time. An occurrence highlights iff it is a
    member of at least one complete valid chain.

    The reference highlighter has no span awareness (it term-sets the
    whole query — every term occurrence lights up even outside the
    phrase window); this is the stricter phrase-consistent rendering
    for ``match_phrase`` queries, so only window members highlight."""
    terms = [t.lower() for t in phrase_terms]
    if not terms:
        return []
    occ: dict[str, list[tuple[int, int, int]]] = {t: [] for t in terms}
    position = -1
    for p in tokenize(text, mode, compound_noun_min_length):
        position += p.position_incr
        ts = p.token_string().lower()
        if ts in occ:
            occ[ts].append((position, p.start_offset, p.end_offset))
    slots = [occ[t] for t in terms]
    n = len(slots)
    # forward pass: occurrence j of slot i is reachable iff some
    # reachable occurrence of slot i-1 sits in its lookback window
    fwd = [[True] * len(slots[0])] + [[False] * len(s) for s in slots[1:]]
    for i in range(1, n):
        prev = [p for (p, _, _), ok in zip(slots[i - 1], fwd[i - 1]) if ok]
        fwd[i] = [
            any(pp < q <= pp + 1 + slop for pp in prev)
            for (q, _, _) in slots[i]
        ]
    # backward pass: keep only occurrences that also CONTINUE into a
    # complete chain (the last slot's reachable set seeds it)
    use = [[False] * len(s) for s in slots]
    use[n - 1] = list(fwd[n - 1])
    for i in range(n - 2, -1, -1):
        nxt = [q for (q, _, _), ok in zip(slots[i + 1], use[i + 1]) if ok]
        use[i] = [
            ok and any(p < q <= p + 1 + slop for q in nxt)
            for (p, _, _), ok in zip(slots[i], fwd[i])
        ]
    spans = [
        (s, e)
        for i in range(n)
        for (p, s, e), ok in zip(slots[i], use[i])
        if ok
    ]
    return _merge(spans)


def highlight(
    text: str,
    query_terms: set[str] | list[str],
    pre: str = "<em>",
    post: str = "</em>",
    mode: str = "standard",
) -> str:
    """Text with match spans wrapped in ``pre``/``post`` tags.

    Offsets are code-point based (the analyzer's convention); the
    reference's Java offsets are UTF-16 units — identical for BMP
    Korean text, and this implementation is the documented
    code-point-offset variant (SURVEY §1.5 offset caveat)."""
    out = []
    last = 0
    for s, e in highlight_spans(text, query_terms, mode):
        out.append(text[last:s])
        out.append(pre)
        out.append(text[s:e])
        out.append(post)
        last = e
    out.append(text[last:])
    return "".join(out)
