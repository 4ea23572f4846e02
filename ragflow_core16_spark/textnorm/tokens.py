"""Deterministic token counting for chunk budgeting.

Reference: ``rag/utils/__init__.py:77-90`` uses tiktoken's ``cl100k_base``
encoding for ``num_tokens_from_string``.  Here it is tiktoken's exact
byte-level BPE algorithm (``textnorm/bpe.py`` — cl100k pre-tokenizer regex
+ lowest-rank-first merge loop) over a ranks file:

1. ``RAG_TIKTOKEN_VOCAB`` — a genuine ``cl100k_base.tiktoken`` dump (or
   any .tiktoken ranks file); with it, counts match tiktoken
   byte-for-byte.  The cl100k file itself is a ~1.6 MB runtime-fetched
   artifact (the same class of stripped asset as the reference's
   ``huqie.txt``), so it cannot ship from this sandbox — but everything
   about the loader is ready for it.
2. Otherwise the shipped vocabulary
   (``textnorm/assets/webspark_bpe.tiktoken``), trained by
   ``tools/train_vocab.py`` with cl100k's structural design (all
   1-3-digit strings are single tokens; merges never cross letter /
   digit / punctuation / whitespace classes).

An unreadable ranks file raises on the first count: a silent fallback
would move chunk boundaries on that worker alone.  The per-url extracted
*text* bytes — the north-rule invariant — do not depend on token counts;
chunk boundaries do, and they are deterministic given the ranks file.

Performance: called per section inside Arrow-batched UDFs.  The encoder
memoizes per-piece counts (Zipf text ⇒ dict hit per piece), so the hot
path is the pre-tokenizer regex scan.
"""

from __future__ import annotations


def _default_counter():
    """Exact BPE: RAG_TIKTOKEN_VOCAB if set, else the shipped ranks file."""
    from .bpe import default_encoder
    return default_encoder().count


# resolved lazily, once per process, so RAG_TIKTOKEN_VOCAB set after import
# (the normal driver order) still routes to that ranks file
_counter = None


def num_tokens_from_string(s: str) -> int:
    """Mirror of rag/utils/__init__.py:83-88 (returns 0 on error)."""
    global _counter
    if _counter is None:
        _counter = _default_counter()
    try:
        return _counter(s)
    except Exception:
        return 0
