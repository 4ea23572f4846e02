"""tiktoken-compatible byte-level BPE — the real algorithm, natively.

The reference counts tokens with tiktoken's ``cl100k_base``
(``rag/utils/__init__.py:77-90``).  The cl100k VOCABULARY is a ~1.6 MB
runtime-fetched asset (the same class of stripped artifact as
``huqie.txt``), so it cannot ship here — but the ALGORITHM can: this
module implements tiktoken's exact encoding scheme (regex pre-tokenizer →
per-piece byte-level merge loop over a rank table), so deployment parity
becomes a data-file drop-in:

    export RAG_TIKTOKEN_VOCAB=/path/to/cl100k_base.tiktoken

(the standard dump format: ``base64(token_bytes) rank`` per line).  When
the env var is set, ``textnorm/tokens.py`` routes
``num_tokens_from_string`` through this encoder and chunk-boundary counts
match tiktoken byte-for-byte; without it the documented approximation
stays in force.

The merge loop mirrors tiktoken's ``byte_pair_merge``: repeatedly merge
the adjacent pair with the lowest rank until no merge applies.  Pinned by
tests on a toy vocabulary (``tests/test_textnorm.py::TestBpe``).
"""

from __future__ import annotations

import base64
import re

# cl100k_base pre-tokenizer pattern (published in the tiktoken source),
# translated for the stdlib `re` module ([^\W\d_] ~ \p{L}, \d ~ \p{N}).
# cl100k: '(?i:[sdmt]|ll|ve|re) | [^\r\n\p{L}\p{N}]?+\p{L}+ | \p{N}{1,3}
#         | ?[^\s\p{L}\p{N}]++[\r\n]* | \s*[\r\n]+ | \s+(?!\S) | \s+
# stdlib translation: \p{L} → [^\W\d_]; "non-letter-non-digit" → [^\w]|_
_PRETOK = re.compile(
    r"'(?i:[sdmt]|ll|ve|re)"
    r"|(?:[^\w\r\n]|_)?[^\W\d_]+"
    r"|\d{1,3}"
    r"| ?(?:[^\s\w]|_)+[\r\n]*"
    r"|\s*[\r\n]+"
    r"|\s+(?!\S)"
    r"|\s+",
    re.UNICODE,
)

# the same seven alternatives for text.isascii() input, with the letter
# and digit classes written out: each piece is identical to _PRETOK's on
# ASCII text, and the scan is faster.  \s stays Unicode-aware (no
# re.ASCII): \x1c-\x1f are Unicode whitespace, and the ASCII flag would
# split text holding them differently.
_PRETOK_ASCII = re.compile(
    r"'(?i:[sdmt]|ll|ve|re)"
    r"|[^A-Za-z0-9\r\n]?[A-Za-z]+"
    r"|[0-9]{1,3}"
    r"| ?[^\sA-Za-z0-9]+[\r\n]*"
    r"|\s*[\r\n]+"
    r"|\s+(?!\S)"
    r"|\s+",
)


def load_vocab(path: str) -> dict[bytes, int]:
    """Parse the standard ``.tiktoken`` dump: ``base64(bytes) rank``."""
    ranks: dict[bytes, int] = {}
    with open(path, "rb") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            tok_b64, rank = line.split()
            ranks[base64.b64decode(tok_b64)] = int(rank)
    return ranks


class _PieceCounts(dict):
    """piece -> token count memo: corpus text is Zipf-distributed, so the
    hot path of ``BpeEncoder.count`` is a dict hit per pre-tokenizer
    piece; a miss encodes the piece.  Bounded: reset rather than evict
    when full, which keeps the common pieces that immediately repopulate
    it."""

    def __init__(self, encode_piece):
        super().__init__()
        self._encode_piece = encode_piece

    def __missing__(self, piece: str) -> int:
        v = len(self._encode_piece(piece.encode("utf-8")))
        if len(self) >= 200_000:
            self.clear()
        self[piece] = v
        return v


class BpeEncoder:
    def __init__(self, ranks: dict[bytes, int]):
        self.ranks = ranks
        self._counts = _PieceCounts(self.encode_piece)

    def count(self, text: str) -> int:
        # findall: no match objects allocated (the patterns have no
        # capture groups, so it yields the full pieces directly)
        pat = _PRETOK_ASCII if text.isascii() else _PRETOK
        return sum(map(self._counts.__getitem__, pat.findall(text)))

    def encode_piece(self, piece: bytes) -> list[bytes]:
        """Token byte-sequences for one pre-tokenized piece (for tests)."""
        ranks = self.ranks
        if piece in ranks:
            return [piece]
        parts = [piece[i:i + 1] for i in range(len(piece))]
        while len(parts) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(parts) - 1):
                r = ranks.get(parts[i] + parts[i + 1])
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            parts[best_i:best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        return parts


# the shipped default vocabulary (trained by tools/train_vocab.py on the
# repo's committed documentation: class-pure letter merges + all 1-3-digit
# tokens, cl100k's structural design).  RAG_TIKTOKEN_VOCAB overrides it
# with a real cl100k_base.tiktoken dump at deployment.
_default: tuple[str, BpeEncoder] | None = None


def default_encoder() -> BpeEncoder:
    """Process-wide encoder over RAG_TIKTOKEN_VOCAB if set, else the
    shipped ranks file.  Cached per resolved path, so flipping the env
    var mid-process re-routes.  Raises (FileNotFoundError/ValueError)
    only if the resolved file is unreadable — the caller decides the
    fallback."""
    global _default
    import os
    path = os.environ.get("RAG_TIKTOKEN_VOCAB") or os.path.join(
        os.path.dirname(__file__), "assets", "webspark_bpe.tiktoken")
    if _default is None or _default[0] != path:
        _default = (path, BpeEncoder(load_vocab(path)))
    return _default[1]


def vocab_from_merges(merges: list[tuple]) -> dict[bytes, int]:
    """Rank table from a trained merge list (``operators/training.py::
    bpe_train`` rows: (rank, left, right, merged, pair_freq)).

    All 256 single bytes get ranks 0-255 (the byte-level base alphabet,
    as in every tiktoken vocabulary), and each merged token lands at
    ``256 + merge_rank`` — rank order mirrors creation order, which is
    what makes the encoder's lowest-rank-first merge loop reproduce
    sequential application of the merge list.
    """
    ranks = {bytes([b]): b for b in range(256)}
    for rank, _left, _right, merged, _freq in merges:
        # two rounds can surface the same merged string from different
        # pairs (('ab','c') and ('a','bc') → 'abc'); the EARLIEST rank
        # must win or the encoder applies the merge later than the
        # trainer did
        ranks.setdefault(merged.encode("utf-8"), 256 + int(rank))
    return ranks


def dump_vocab(ranks: dict[bytes, int], path: str) -> None:
    """Write the standard ``.tiktoken`` dump (``base64(bytes) rank``) —
    the file format ``RAG_TIKTOKEN_VOCAB`` loads, so a corpus-trained
    vocabulary can be routed into token counting like a real cl100k
    dump."""
    with open(path, "wb") as f:
        for tok, rank in sorted(ranks.items(), key=lambda kv: kv[1]):
            f.write(base64.b64encode(tok) + b" " + str(rank).encode()
                    + b"\n")
