"""Unit tests for codec detection, token counting, and xxh64."""

from hypothesis import given, settings, strategies as st

from ragflow_core16_spark.textnorm.codec import find_codec, decode_bytes
from ragflow_core16_spark.textnorm.tokens import num_tokens_from_string
from ragflow_core16_spark.textnorm.xxh64 import xxh64_int, xxh64_hexdigest, chunk_id


class TestFindCodec:
    def test_ascii_maps_to_utf8(self):
        assert find_codec(b"hello world") == "utf-8"

    def test_utf8_cjk(self):
        assert find_codec("中文测试。".encode("utf-8")) == "utf-8"

    def test_gbk(self):
        # gb2312 precedes gbk in the codec list and decodes common hanzi
        assert find_codec("中文测试。".encode("gbk")) == "gb2312"
        assert decode_bytes("中文测试。".encode("gbk")) == "中文测试。"

    def test_latin1(self):
        blob = "café désolé".encode("latin-1")
        assert decode_bytes(blob)  # decodes without error

    def test_cp1251(self):
        blob = "Привет мир".encode("cp1251")
        assert decode_bytes(blob)

    def test_empty(self):
        assert find_codec(b"") == "utf-8"

    def test_1kb_boundary_multibyte_truncation(self):
        # a multibyte char straddling the 1 KiB boundary must not crash;
        # the whole-blob fallback decode still resolves a codec
        blob = (b"a" * 1023) + "中".encode("utf-8")
        assert isinstance(find_codec(blob), str)
        assert decode_bytes(blob).startswith("a" * 1023)


class TestTokens:
    def test_empty(self):
        assert num_tokens_from_string("") == 0

    def test_monotone_in_length(self):
        short = num_tokens_from_string("one two three")
        long = num_tokens_from_string("one two three four five six seven eight")
        assert long > short

    def test_cjk_counts_per_char(self):
        assert num_tokens_from_string("中文测试") >= 4

    def test_deterministic(self):
        s = "The quick brown fox, jumps over 1234 lazy dogs!"
        assert num_tokens_from_string(s) == num_tokens_from_string(s)

    def test_reasonable_english_rate(self):
        # ~3-5 chars/token for typical English (the shipped repo-trained
        # vocab runs a little hotter than cl100k's ~4.5 chars/token on
        # words rare in its training corpus; a real cl100k ranks file via
        # RAG_TIKTOKEN_VOCAB lands near 0.22)
        s = "the quick brown fox jumps over the lazy dog " * 10
        n = num_tokens_from_string(s)
        assert 0.15 < n / len(s) < 0.45


class TestXxh64:
    # Published XXH64 test vectors (xxHash reference implementation)
    def test_vectors(self):
        assert xxh64_int(b"") == 0xEF46DB3751D8E999
        assert xxh64_int(b"a") == 0xD24EC4F1A98C6E5B
        assert xxh64_int(b"abc") == 0x44BC2CF5AD770999
        assert xxh64_int(b"message digest") == 0x066ED728FCEEB3BE
        assert xxh64_int(b"abcdefghijklmnopqrstuvwxyz") == 0xCFE1F278FA89835C
        assert (xxh64_int(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789")
                == 0xAAA46907D3047814)

    def test_seeded(self):
        assert xxh64_int(b"", 1) != xxh64_int(b"", 0)

    def test_hexdigest_format(self):
        h = xxh64_hexdigest("hello")
        assert len(h) == 16 and int(h, 16) >= 0

    def test_chunk_id_parity_shape(self):
        # reference: xxhash.xxh64(text + doc_id).hexdigest()
        a = chunk_id("some chunk text", "https://example.com/x")
        b = chunk_id("some chunk text", "https://example.com/y")
        assert a != b and len(a) == 16

    def test_utf8_input(self):
        assert xxh64_hexdigest("中文") == xxh64_hexdigest("中文".encode("utf-8"))


class TestBpe:
    """tiktoken-compatible BPE engine over a toy vocabulary: the merge
    order must follow rank (lowest first), exactly as byte_pair_merge."""

    def _enc(self):
        from ragflow_core16_spark.textnorm.bpe import BpeEncoder
        ranks = {}
        # bytes for a-z as rank 0..25, then merges with increasing rank
        for i, c in enumerate(b"abcdefghijklmnopqrstuvwxyz"):
            ranks[bytes([c])] = i
        ranks[b"ab"] = 100
        ranks[b"cd"] = 101
        ranks[b"abcd"] = 102
        ranks[b"bc"] = 103
        ranks[b" a"] = 104
        return BpeEncoder(ranks)

    def test_lowest_rank_merges_first(self):
        enc = self._enc()
        # 'abcd': pairs ab(100) cd(101) bc(103) → merge ab first, then cd,
        # then ab+cd=abcd(102) → single token
        assert enc.encode_piece(b"abcd") == [b"abcd"]
        # 'abc': ab merges (100), then ab+c has no rank → [ab, c]
        assert enc.encode_piece(b"abc") == [b"ab", b"c"]
        # 'bcd': bc(103) vs cd(101) → cd merges first → [b, cd]
        assert enc.encode_piece(b"bcd") == [b"b", b"cd"]

    def test_count_splits_on_pretokenizer(self):
        enc = self._enc()
        # 'ab ab' → pieces 'ab', ' ab' ; ' ab' has no ' a'+'b'? ' a'(104)
        # merges then ' ab' unknown → [' a','b'] = 2 tokens
        assert enc.count("ab ab") == 1 + 2

    def test_unknown_bytes_fall_to_singletons(self):
        enc = self._enc()
        assert enc.encode_piece(b"xyz") == [b"x", b"y", b"z"]

    def test_vocab_file_roundtrip(self, tmp_path):
        import base64
        from ragflow_core16_spark.textnorm.bpe import BpeEncoder, load_vocab
        p = tmp_path / "toy.tiktoken"
        entries = {b"a": 0, b"b": 1, b"ab": 2}
        p.write_bytes(b"\n".join(
            base64.b64encode(k) + b" " + str(v).encode()
            for k, v in entries.items()))
        enc = BpeEncoder(load_vocab(str(p)))
        assert enc.encode_piece(b"ab") == [b"ab"]
        assert enc.count("ab") == 1

    def test_env_routing(self, tmp_path, monkeypatch):
        import base64
        import importlib
        from ragflow_core16_spark.textnorm import tokens
        p = tmp_path / "toy.tiktoken"
        p.write_bytes(base64.b64encode(b"hi") + b" 0\n" +
                      base64.b64encode(b"h") + b" 1\n" +
                      base64.b64encode(b"i") + b" 2\n")
        monkeypatch.setenv("RAG_TIKTOKEN_VOCAB", str(p))
        try:
            counter = tokens._default_counter()
            assert counter("hi") == 1          # env-provided BPE path
        finally:
            monkeypatch.delenv("RAG_TIKTOKEN_VOCAB")
        # without the env var the default is STILL exact BPE — over the
        # shipped ranks file ("hi" is not a merged token there)
        from ragflow_core16_spark.textnorm.bpe import default_encoder
        assert tokens._default_counter() == default_encoder().count

    def test_pretokenizer_cl100k_shapes(self):
        # regression (r2 review): the word branch carries one optional
        # leading non-letter (so ' world' is ONE piece), digits take no
        # leading space, '_' joins the punct/word branches
        from ragflow_core16_spark.textnorm.bpe import _PRETOK
        def toks(s):
            return [m.group(0) for m in _PRETOK.finditer(s)]
        assert toks("hello world") == ["hello", " world"]
        assert toks("foo_bar") == ["foo", "_bar"]
        assert toks("I'LL go") == ["I", "'LL", " go"]
        assert toks("x 123") == ["x", " ", "123"]
        assert toks("a\n\nb") == ["a", "\n\n", "b"]

    @given(st.lists(st.one_of(
        st.text(st.characters(max_codepoint=127), max_size=12),
        st.sampled_from(["'s", "'T", "'ll", "'VE", "'re", "'d", "'x",
                         "\r\n", " \r\n", "\x1c", "\x1d", "\x1e", "\x1f",
                         "\v", "\f", " \t ", "7", "1234567", "0042",
                         "_", " _a", "a'"])), max_size=24).map("".join))
    @settings(max_examples=2000, deadline=None)
    def test_ascii_pretokenizer_splits_like_the_unicode_one(self, text):
        from ragflow_core16_spark.textnorm.bpe import _PRETOK, _PRETOK_ASCII
        assert _PRETOK_ASCII.findall(text) == _PRETOK.findall(text)

    def test_count_equals_unicode_pretokenizer_on_fixture_sections(self):
        """On the sections of every HTML fixture, ``count`` (ASCII pattern
        where the section is ASCII) sums the same pieces as ``_PRETOK``."""
        import os
        from ragflow_core16_spark.html.parser import html_sections
        from ragflow_core16_spark.textnorm.bpe import (_PRETOK,
                                                       _PRETOK_ASCII,
                                                       default_encoder)
        enc = default_encoder()
        fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
        paths = [os.path.join(fixtures, d, f)
                 for d in ("html", "html_real")
                 for f in sorted(os.listdir(os.path.join(fixtures, d)))
                 if f.endswith(".html")]
        assert len(paths) == 16
        n_ascii = 0
        for path in paths:
            with open(path, "rb") as f:
                sections = html_sections(f.read())
            for s in sections:
                if s.isascii():
                    n_ascii += 1
                    assert _PRETOK_ASCII.findall(s) == _PRETOK.findall(s)
                assert enc.count(s) == sum(
                    len(enc.encode_piece(p.encode("utf-8")))
                    for p in _PRETOK.findall(s)), (path, s)
        assert n_ascii > 100


class TestShippedVocab:
    """Invariants of the shipped ranks file that the oracle token
    arithmetic RELIES on (operators/sql_shared.py): class purity and the
    cl100k-style digit tokens.  If a retrained vocabulary ever broke one
    of these, every closed-form punct/digit term in the template oracles
    would silently drift — this pins them."""

    def _ranks(self):
        from ragflow_core16_spark.textnorm.bpe import default_encoder
        return default_encoder().ranks

    def test_all_digit_tokens_present(self):
        ranks = self._ranks()
        for n in range(1000):
            for width in (1, 2, 3):
                if n < 10 ** width:
                    assert str(n).zfill(width).encode() in ranks

    def test_class_purity(self):
        # no multi-byte token mixes letters with digits/punct, carries
        # more than one leading space, or is pure punct/whitespace
        import re
        word = re.compile(rb"^ ?[A-Za-z\x80-\xff]+$")
        for tok in self._ranks():
            if len(tok) <= 1:
                continue
            if tok.isdigit():
                assert len(tok) <= 3
                continue
            assert word.match(tok), tok

    def test_punct_pieces_cost_byte_length(self):
        from ragflow_core16_spark.operators.sql_shared import bpe_cost
        for piece in [",.", ".\n", "\n\n", '{"', '": "', ";", "|"]:
            assert bpe_cost(piece) == len(piece.encode())

    def test_dot_word_fusion_is_one_plus_bare(self):
        from ragflow_core16_spark.operators.sql_shared import (
            DRIVER_DOC_WORDS, bpe_cost)
        for w in DRIVER_DOC_WORDS:
            assert bpe_cost("." + w) == 1 + bpe_cost(w)
            assert bpe_cost('"' + w) == 1 + bpe_cost(w)

    def test_driver_word_pool_covers_testdata(self):
        import duckdb
        from ragflow_core16_spark.operators.sql_shared import \
            DRIVER_DOC_WORDS
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            got = duckdb.sql(
                f"SELECT DISTINCT unnest(string_split(text, ' ')) AS w "
                f"FROM '/root/testdata/{sf}/documents.parquet' "
                f"WHERE length(trim(text)) > 0").fetchall()
            extra = {w for (w,) in got if w} - set(DRIVER_DOC_WORDS)
            assert not extra, f"{sf}: words outside the pool: {extra}"


class TestXxh64Batch:
    """xxh64_hex_batch must be bit-identical to the scalar across every
    tail class (0, <4, <8, 4-aligned, 8-aligned, 32-aligned, >32, mixed)
    and must route oversized outliers through the scalar fallback."""

    def test_fuzz_all_tail_classes(self):
        import random
        from ragflow_core16_spark.textnorm.xxh64 import (xxh64_hex_batch,
                                                         xxh64_hexdigest)
        rng = random.Random(11)
        sizes = [0, 1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64,
                 65, 100, 257, 1000, 4095]
        items = [bytes(rng.randrange(256) for _ in range(rng.choice(sizes)))
                 for _ in range(400)]
        assert xxh64_hex_batch(items) == [xxh64_hexdigest(b) for b in items]

    def test_oversized_outlier_fallback(self):
        from ragflow_core16_spark.textnorm.xxh64 import (xxh64_hex_batch,
                                                         xxh64_hexdigest)
        items = [b"small", b"x" * 100_000, b"tail"]
        assert xxh64_hex_batch(items) == [xxh64_hexdigest(b) for b in items]

    def test_nonzero_seed(self):
        from ragflow_core16_spark.textnorm.xxh64 import (xxh64_hex_batch,
                                                         xxh64_hexdigest)
        items = [b"", b"abc", b"a" * 40]
        assert (xxh64_hex_batch(items, seed=7)
                == [xxh64_hexdigest(b, seed=7) for b in items])
