"""SQL fragments shared by the oracle derivations.

One definition each for the qa prefix-strip regex (rag/app/qa.py rmPrefix)
and the token-cost derivation.  Token counting defaults to EXACT byte-level
BPE over the shipped ranks file (textnorm/tokens.py), which SQL cannot
compute generically — but every oracle corpus draws its words from a
bounded generator pool, so each oracle transcribes the costs it needs as a
VALUES relation (or constant) evaluated through the REAL encoder at
SQL-build time.  The shipped vocabulary is class-pure (no token mixes
letters with digits/punctuation/whitespace; all 1-3-digit strings are
single tokens — ``tools/train_vocab.py``), which gives the closed forms
the oracles rely on:

  * punctuation/newline pieces cost one token per byte;
  * any 1-3 digit run costs 1 (an n-digit run ceil(n/3), greedy splits);
  * a letter run fused behind punctuation costs cost(".w") =
    1 + bare_cost(w) — cross-class merges cannot exist, so fusing a
    punctuation byte onto a word never changes the word's merge path.

Word costs themselves are NOT closed-form (they follow the trained
merges), hence the VALUES transcription.
"""

from __future__ import annotations

from functools import lru_cache

RM_PREFIX_SQL = (r"^(问题|答案|回答|user|assistant|Q|A|Question|Answer|问|答)"
                 r"[\t:： ]+")

# word pool of the driver-generated documents.parquet text (TESTDATA.md);
# tests/test_oracle_parity.py guards that the actual tables never exceed it
DRIVER_DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


@lru_cache(maxsize=None)
def bpe_cost(piece: str) -> int:
    """Exact token count of one pre-tokenizer piece under the DEFAULT
    encoder (the same one ``num_tokens_from_string`` uses), evaluated at
    SQL-build time so oracle VALUES relations and the engine agree by
    construction."""
    from ..textnorm.bpe import default_encoder
    return len(default_encoder().encode_piece(piece.encode("utf-8")))


def bpe_count(text: str) -> int:
    """Exact token count of a full string under the default encoder."""
    from ..textnorm.bpe import default_encoder
    return default_encoder().count(text)
