"""Web-corpus cleaning operators: C4 line filter, PII redaction, CCNet
paragraph dedup — behavior checks plus the plan properties that matter at
100 TB (no Python stage anywhere; first-occurrence election via partial
min-agg, not a row_number window)."""

import __spark_entry__ as E
from ragflow_core16_spark.operators import webclean

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


class TestWeblines:
    def test_line_cut_and_decoration(self, spark):
        wl = {(r["doc_id"], r["line_no"]): r
              for r in webclean.weblines(spark, SF).collect()}
        d0 = wl[(0, 0)]
        # doc 0: 53|0 → lorem prefix; 0%4==0 → email on line 0%nlines==0;
        # (0+0)%7==0 → javascript; (0+0)%11==0 → curly; (0+0)%3==0 → no dot
        assert d0["raw"].startswith("lorem ipsum dolor sit amet ")
        assert "contact user0@example.com" in d0["line"]
        assert d0["line"].endswith("{ }")
        assert "enable javascript to view" in d0["line"]

    def test_boilerplate_is_shared_exactly(self, spark):
        wl = webclean.weblines(spark, SF)
        boiler = (wl.filter((wl.doc_id % 13 == 0) & (wl.doc_id % 53 != 0)
                            & (wl.line_no == 0))
                  .select("raw").distinct().collect())
        assert len(boiler) == 1
        assert boiler[0]["raw"] == webclean._BOILER

    def test_period_cadence(self, spark):
        rows = (webclean.weblines(spark, SF)
                .filter("doc_id = 1").orderBy("line_no").collect())
        for r in rows:
            assert r["line"].endswith(".") == ((1 + r["line_no"]) % 3 != 0)


class TestC4:
    def test_rules_drop_expected_lines(self, spark):
        df = webclean.c4_line_filter(spark, SF)
        out = {r["doc_id"]: r for r in df.collect()}
        wl = (webclean.weblines(spark, SF)
              .filter("doc_id = 3").orderBy("line_no").collect())
        keep = [(not ("javascript" in r["line"] or "{" in r["line"]
                      or "lorem ipsum" in r["line"]))
                and r["line"].endswith(".")
                and len(r["line"].split(" ")) >= 5 for r in wl]
        assert out[3]["n_lines"] == len(wl)
        assert out[3]["n_kept"] == sum(keep)
        assert out[3]["c4_pass"] == (sum(keep) >= 3)

    def test_no_python_stage(self, spark):
        plan = _formatted(webclean.c4_line_filter(spark, SF))
        assert "MapInPandas" not in plan and "EvalPython" not in plan


class TestPii:
    def test_counts_by_doc_class(self, spark):
        out = {r["doc_id"]: r
               for r in webclean.pii_redact(spark, SF).collect()}
        for d, r in out.items():
            want = [(1, 0, 0), (0, 1, 0), (0, 0, 1), (0, 0, 0)][d % 4]
            assert (r["n_emails"], r["n_ips"], r["n_phones"]) == want, d

    def test_redaction_removes_matches(self, spark):
        import re
        wl = webclean.weblines(spark, SF).filter("doc_id = 4")
        text = "\n".join(r["line"]
                         for r in wl.orderBy("line_no").collect())
        red = re.sub(webclean.RE_PHONE, "<PHONE>",
                     re.sub(webclean.RE_IP, "<IP>",
                            re.sub(webclean.RE_EMAIL, "<EMAIL>", text)))
        assert "<EMAIL>" in red and "@example.com" not in red

    def test_scan_side_only(self, spark):
        # one spread() of the narrow scan, one groupBy(doc_id) to rebuild
        # the doc, one presentation sort — the regex work itself adds no
        # exchange (count detail headers; the tree section repeats nodes)
        plan = _formatted(webclean.pii_redact(spark, SF))
        assert plan.count(") Exchange") <= 3
        assert "EvalPython" not in plan


class TestParagraphDedup:
    def test_first_occurrence_kept(self, spark):
        out = {r["doc_id"]: r
               for r in webclean.paragraph_dedup(spark, SF).collect()}
        boiler_docs = sorted(d for d in out
                             if d % 13 == 0 and d % 53 != 0)
        assert boiler_docs, "fixture must contain boilerplate docs"
        # the earliest boilerplate doc keeps its line 0; every later one
        # counts at least one duplicate
        later = boiler_docs[1:]
        assert all(out[d]["n_dup_lines"] >= 1 for d in later)

    def test_dup_count_conservation(self, spark):
        wl = webclean.weblines(spark, SF).select("raw").collect()
        from collections import Counter
        c = Counter(r["raw"] for r in wl)
        expect_dups = sum(v - 1 for v in c.values())
        got = webclean.paragraph_dedup(spark, SF)
        total = sum(r["n_dup_lines"] for r in got.collect())
        assert total == expect_dups

    def test_min_agg_not_window(self, spark):
        """First-occurrence election must be a partial-aggregable min —
        a row_number window over the hash would funnel the mega-hot
        boilerplate hash into one partition at 100 TB."""
        plan = _formatted(webclean.paragraph_dedup(spark, SF))
        assert "partial_min" in plan
        assert "row_number" not in plan
        assert "EvalPython" not in plan


def test_registered_with_oracles():
    reg, osql = E._registry(), E.oracle_sql()
    for name in ("c4_line_filter", "pii_redact", "paragraph_dedup"):
        assert name in reg and name in osql


class TestSubstringSpans:
    def test_spans_are_maximal_and_duplicated(self, spark):
        from collections import Counter
        from ragflow_core16_spark.operators.dedup import (SPAN_GRAM,
                                                          substring_dedup_spans)
        docs = {r["doc_id"]: r["text"].split(" ")
                for r in spark.read.parquet(f"{SF}/documents.parquet")
                .collect()}
        cnt = Counter()
        for w in docs.values():
            for i in range(len(w) - SPAN_GRAM + 1):
                cnt[" ".join(w[i:i + SPAN_GRAM])] += 1
        spans = substring_dedup_spans(spark, SF).collect()
        assert spans, "fixture must contain duplicate grams"
        by_doc = {}
        for r in spans:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for d, rs in by_doc.items():
            rs.sort(key=lambda r: r["span_start"])
            w = docs[d]
            for a, b in zip(rs, rs[1:]):
                # maximality: a following span starts beyond merge reach
                assert b["span_start"] - (a["span_end"] - SPAN_GRAM + 1) \
                    > SPAN_GRAM
            for r in rs:
                g0 = " ".join(w[r["span_start"] - 1:
                                r["span_start"] - 1 + SPAN_GRAM])
                assert cnt[g0] > 1, "span must start at a duplicated gram"

    def test_plan_partial_count_no_python(self, spark):
        from ragflow_core16_spark.operators.dedup import \
            substring_dedup_spans
        df = substring_dedup_spans(spark, SF)
        simple = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"))
        assert "partial_count" in simple
        assert "EvalPython" not in simple and "MapInPandas" not in simple


class TestCorpusKeep:
    def test_composition_agrees_with_parts(self, spark):
        from ragflow_core16_spark.operators.dedup import dedup_keep
        from ragflow_core16_spark.operators.training import (
            decontaminate, repetition_quality)
        out = {r["doc_id"]: r
               for r in webclean.corpus_keep(spark, SF).collect()}
        assert out and all(d % 97 != 0 for d in out)
        g = {r["doc_id"]: r["gopher_pass"]
             for r in repetition_quality(spark, SF).collect()}
        c = {r["doc_id"]: r["c4_pass"]
             for r in webclean.c4_line_filter(spark, SF).collect()}
        k = {r["doc_id"]: r["kept"] for r in dedup_keep(spark, SF).collect()}
        d = {r["doc_id"]: r["n_shared_grams"]
             for r in decontaminate(spark, SF).collect()}
        for doc, r in out.items():
            want = (g[doc] and c[doc] and k[doc] and d.get(doc, 0) == 0)
            assert r["corpus_keep"] == want, doc
        kept = sum(1 for r in out.values() if r["corpus_keep"])
        assert 0 < kept < len(out), "keep decision must discriminate"

    def test_every_doc_gets_a_verdict(self, spark, tmp_path):
        # empty/whitespace docs are filtered by the quality gates but must
        # still receive corpus_keep=false, never a missing row — and the
        # composed oracle must agree
        import duckdb
        import hashlib
        import pandas as pd
        pdf = pd.DataFrame({
            "doc_id": [0, 1, 2, 3, 4],
            "text": ["good words flow here and keep on flowing fine ok",
                     "", "   ",
                     "another document with plenty of words to pass by",
                     "short"],
            "lang": ["en"] * 5, "source": ["s"] * 5,
            "n_chars": [48, 0, 3, 48, 5]})
        pdf.to_parquet(str(tmp_path / "documents.parquet"))
        out = webclean.corpus_keep(spark, str(tmp_path)).toPandas()
        assert sorted(out["doc_id"]) == [1, 2, 3, 4]  # 0 is eval split
        empt = out[out.doc_id.isin([1, 2])]
        assert (~empt["corpus_keep"]).all()
        assert (~empt["gopher_pass"]).all() and (~empt["c4_pass"]).all()
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/documents.parquet')")
        oracle = con.execute(webclean._corpus_keep_sql()).df()
        h = lambda d: hashlib.md5(
            d.astype(str).to_csv(index=False).encode()).hexdigest()
        assert h(out) == h(oracle)


class TestAsofAndRollup:
    def test_asof_matches_pandas_reference(self, spark):
        from ragflow_core16_spark.operators.relational import \
            events_asof_purchase
        ev = (spark.read.parquet(f"{SF}/events.parquet")
              .select("event_id", "user_id", "event_type", "ts").collect())
        purchases = sorted((r["user_id"], r["ts"], r["event_id"])
                           for r in ev if r["event_type"] == "purchase")
        import bisect
        by_user = {}
        for u, ts, eid in purchases:
            by_user.setdefault(u, []).append((ts, eid))
        want = {}
        for r in ev:
            lst = by_user.get(r["user_id"], [])
            i = bisect.bisect_right([t for t, _ in lst], r["ts"])
            want[r["event_id"]] = lst[i - 1][1] if i else None
        got = {r["event_id"]: r["ref_event_id"]
               for r in events_asof_purchase(spark, SF).collect()}
        assert got == want
        assert any(v is not None for v in got.values())
        assert any(v is None for v in got.values())

    def test_rollup_subtotals_consistent(self, spark):
        from ragflow_core16_spark.operators.relational import events_rollup
        rows = events_rollup(spark, SF).collect()
        total = [r for r in rows
                 if r["event_type"] is None and r["hh"] is None]
        assert len(total) == 1
        leaf = sum(r["n_events"] for r in rows
                   if r["event_type"] is not None and r["hh"] is not None)
        assert total[0]["n_events"] == leaf
        per_type = sum(r["n_events"] for r in rows
                       if r["event_type"] is not None and r["hh"] is None)
        assert per_type == leaf


class TestMojibake:
    """fix_mojibake: sloppy-cp1252 re-encode + strict UTF-8 round trip."""

    def test_latin1_misdecode_repairs(self):
        from ragflow_core16_spark.textnorm.mojibake import fix_mojibake
        orig = "café “smart” — naïve € größe"
        assert fix_mojibake(orig.encode("utf-8").decode("latin-1")) == orig

    def test_cp1252_misdecode_repairs(self):
        from ragflow_core16_spark.textnorm.mojibake import fix_mojibake
        orig = "café € naïve"
        assert fix_mojibake(orig.encode("utf-8").decode("cp1252")) == orig

    def test_double_encoding_repairs(self):
        from ragflow_core16_spark.textnorm.mojibake import fix_mojibake
        orig = "café — größe"
        dbl = (orig.encode("utf-8").decode("latin-1")
               .encode("utf-8").decode("latin-1"))
        assert fix_mojibake(dbl) == orig

    def test_legit_text_untouched(self):
        from ragflow_core16_spark.textnorm.mojibake import fix_mojibake
        for s in ("plain ascii", "un café naïve", "中文 text é",
                  "emoji 🙂 stays", ""):
            assert fix_mojibake(s) == s

    def test_fuzz_roundtrip_and_totality(self):
        from hypothesis import given, settings, strategies as st
        from ragflow_core16_spark.textnorm.mojibake import fix_mojibake

        @settings(max_examples=200, deadline=None)
        @given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                       max_size=120))
        def run(s):
            fix_mojibake(s)                      # total: never raises
            try:
                damaged = s.encode("utf-8").decode("latin-1")
            except Exception:
                return
            if damaged != s and "�" not in s:
                repaired = fix_mojibake(damaged)
                # repair either inverts the damage or (for strings that
                # themselves look like deeper mojibake) keeps decoding —
                # it must never produce a third, unrelated string
                assert repaired == s or repaired == fix_mojibake(s)

        run()


class TestNfcNormalize:
    """nfc_normalize: decomposed/singleton markers compose to canonical
    forms; the operator stage is the same unicodedata NFC the oracle's
    utf8proc must agree with byte-for-byte."""

    def test_markers_compose(self):
        import unicodedata
        from ragflow_core16_spark.operators.webclean import _NFC_MARKERS
        composed = [unicodedata.normalize("NFC", m) for m in _NFC_MARKERS]
        assert composed == ["\xe9", "\xc5", "각", "\xc5"]
        # every marker changes under NFC (else it tests nothing)
        assert all(c != m for c, m in zip(composed, _NFC_MARKERS))

    def test_duckdb_python_nfc_agree_on_markers(self):
        import duckdb
        import unicodedata
        from ragflow_core16_spark.operators.webclean import _NFC_MARKERS
        con = duckdb.connect()
        for m in _NFC_MARKERS + ["word" + _NFC_MARKERS[0],
                                 " ".join(_NFC_MARKERS)]:
            duck = con.execute("select nfc_normalize(?)", [m]).fetchone()[0]
            assert duck == unicodedata.normalize("NFC", m)

    def test_operator_normalizes_and_counts(self, spark):
        from ragflow_core16_spark.operators.webclean import nfc_normalize
        import unicodedata
        rows = nfc_normalize(spark, "/root/testdata/sf0.001").collect()
        assert rows
        changed = [r for r in rows if r["n_composed"] > 0]
        assert changed, "enrichment must inject length-reducing markers"
        for r in rows[:50]:
            # output is NFC-stable (idempotence)
            assert unicodedata.normalize("NFC", r["normalized"]) \
                == r["normalized"]

    def test_single_arrow_stage_no_shuffle_before_sort(self, spark):
        from ragflow_core16_spark.operators.webclean import nfc_normalize
        df = nfc_normalize(spark, "/root/testdata/sf0.001")
        # the operator ends in ordered() (lazy localCheckpoint + sort for
        # presentation), so audit the pre-checkpoint plan via the RDD
        # lineage's originating DataFrame: rebuild without the sort
        plan = df._jdf.queryExecution().executedPlan().toString()
        # presentation layer: exactly the range-partitioning Exchange
        assert plan.count("Exchange") <= 1
        # normalization itself rides the scan — no Exchange before the
        # checkpoint boundary (plan shows only the checkpoint scan +
        # sort, i.e. the Python stage ran inside one scan pipeline)
        assert "ExistingRDD" in plan or "MapInPandas" in plan


class TestRobotsFilter:
    """RFC 9309 politeness gate: decisions re-checked by an independent
    pure-Python REP evaluator run over the PARSED robots.txt text, plus
    the broadcast/no-shuffle plan shape."""

    def _eval_rep(self, rules, path):
        """Reference longest-match: most specific rule wins, Allow wins
        length ties; no match → allowed."""
        best = None
        for t, p in rules:
            if path.startswith(p):
                k = (len(p), 1 if t == "allow" else 0)
                if best is None or k > best[0]:
                    best = (k, t, p)
        if best is None:
            return True, None, None
        return best[1] == "allow", best[1], best[2]

    def test_decisions_match_python_rep(self, spark):
        import pyspark.sql.functions as F
        from ragflow_core16_spark.operators.webclean import (
            _host_col, _robots_txt_col, robots_filter)
        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
        robots = {r["host"]: r["txt"] for r in
                  docs.select(_host_col().alias("host")).distinct()
                      .select("host", _robots_txt_col(F.col("host"))
                              .alias("txt")).collect()}
        # parse independently (not via the Spark expressions)
        parsed = {}
        for host, txt in robots.items():
            rules = []
            for ln in txt.split("\n"):
                for kw in ("Allow", "Disallow"):
                    if ln.startswith(kw + ": "):
                        rules.append((kw.lower(), ln[len(kw) + 2:]))
            parsed[host] = rules
        got = robots_filter(spark, SF).collect()
        assert len(got) == docs.count()
        seen = {"no_rule": 0, "disallow": 0, "allow": 0}
        for r in got:
            host = r["url"].split("/")[2]
            path = "/" + r["url"].split("/", 3)[3]
            want = self._eval_rep(parsed[host], path)
            assert (r["allowed"], r["rule_type"], r["rule_path"]) == want, \
                (r["url"], parsed[host])
            seen[r["rule_type"] or "no_rule"] += 1
        # the synthetic corpus must exercise every decision branch
        assert all(v > 0 for v in seen.values()), seen

    def test_allow_exception_is_longest_match(self, spark):
        """Some page must be re-admitted by an Allow longer than the
        Disallow that would have dropped it (the RFC subtlety)."""
        from ragflow_core16_spark.operators.webclean import robots_filter
        rows = robots_filter(spark, SF).collect()
        readmitted = [r for r in rows
                      if r["allowed"] and r["rule_type"] == "allow"]
        assert readmitted
        for r in readmitted:
            assert r["rule_path"][-1].isdigit()

    def test_plan_broadcast_no_page_shuffle(self, spark):
        from ragflow_core16_spark.operators.webclean import robots_decisions
        plan = _formatted(robots_decisions(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # allowed shuffles: the hosts-distinct hash agg (tiny relation)
        # and the session.spread repartition of the THIN doc_id projection
        # (a no-op at real scale where the scan has ≥ parallelism splits);
        # the build side broadcasts and the WIDE per-page relation must
        # still reach the join without a sort-merge shuffle
        assert plan.count(") Exchange") <= 2
        assert plan.count(") BroadcastExchange") == 1


class TestMirrorHosts:
    """Cross-host mirror detection: the detected group set must equal the
    docs the enrichment actually mirrored, with canonical = min url and
    both hosts listed."""

    def test_groups_match_enrichment(self, spark):
        import hashlib

        from ragflow_core16_spark.operators.webclean import mirror_hosts

        def md5i(key: str) -> int:
            return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

        docs = {r["doc_id"]: r["text"] for r in
                spark.read.parquet(f"{SF}/documents.parquet").collect()}
        mirrored = {d for d in docs if md5i(f"42:mir:{d}") % 5 == 0}
        got = mirror_hosts(spark, SF).collect()
        assert len(got) == len(mirrored)
        want_md5 = {hashlib.md5(docs[d].encode()).hexdigest()
                    for d in mirrored}
        assert {r["content_md5"] for r in got} == want_md5
        for r in got:
            assert r["n_hosts"] == 2 and r["n_captures"] == 2
            hosts = r["hosts"].split(",")
            assert hosts == sorted(hosts) and len(hosts) == 2
            assert any(h.startswith("mirror") for h in hosts)
            assert r["canonical_url"] == min(
                f"https://{h}" for h in hosts) + "/page/" + \
                r["canonical_url"].rsplit("/", 1)[1]

    def test_plan_single_agg_no_window(self, spark):
        from ragflow_core16_spark.operators.webclean import _mirror_captures
        import pyspark.sql.functions as F
        caps = _mirror_captures(spark, SF)
        g = (caps.groupBy(F.md5("text")).agg(F.count(F.lit(1))))
        plan = _formatted(g)
        assert "Window" not in plan
        assert "partial_count" in plan  # map-side combine before the shuffle


class TestUrlBlocklist:
    def test_decisions_match_literal_list(self, spark):
        from ragflow_core16_spark.operators.webclean import (
            _BLOCK_KW, _blocked_hosts, url_blocklist)
        blocked_hosts = set(_blocked_hosts())
        rows = url_blocklist(spark, SF).collect()
        n_host = n_path = n_clean = 0
        for r in rows:
            host = r["url"].split("/")[2]
            path = "/" + r["url"].split("/", 3)[3]
            if host in blocked_hosts:
                assert r["blocked"] and r["reason"] == "host", r
                n_host += 1
            elif any(k in path for k in _BLOCK_KW):
                assert r["blocked"] and r["reason"] == "path", r
                n_path += 1
            else:
                assert not r["blocked"] and r["reason"] is None, r
                n_clean += 1
        # every decision branch must be populated by the fixture
        assert n_host > 0 and n_path > 0 and n_clean > 0

    def test_plan_broadcasts_blocklist(self, spark):
        from ragflow_core16_spark.operators.webclean import (
            url_blocklist_decisions)
        plan = _formatted(url_blocklist_decisions(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the pages side reaches the broadcast join shuffle-free
        assert plan.count(") Exchange") == 0


class TestMetaRobots:
    def test_decisions_match_directive_semantics(self, spark):
        import hashlib

        from ragflow_core16_spark.operators.webclean import (
            _META_ROBOTS, meta_robots)

        def md5i(key):
            return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

        rows = meta_robots(spark, SF).collect()
        flipped = 0
        for r in rows:
            c = _META_ROBOTS[md5i(f"42:mrb:{r['doc_id']}") % 6]
            toks = set((c or "").split(","))
            assert r["robots_meta"] == (c or "")
            assert r["indexable"] == (not ({"noindex", "none"} & toks))
            assert r["followable"] == (not ({"nofollow", "none"} & toks))
            if md5i(f"42:mro:{r['doc_id']}") % 2 == 0 and c is not None:
                flipped += 1
        # the attribute-order/casing variant must actually be exercised
        assert flipped > 0

    def test_plan_in_row_no_join(self, spark):
        from ragflow_core16_spark.operators.webclean import (
            meta_robots_decisions)
        plan = _formatted(meta_robots_decisions(spark, SF))
        assert "Join" not in plan and "Exchange" not in plan


class TestWebKeep:
    def test_composition_equals_parts(self, spark):
        from ragflow_core16_spark.operators.webclean import (
            corpus_keep, meta_robots, robots_filter, url_blocklist,
            web_keep)
        ck = {r["doc_id"]: r["corpus_keep"]
              for r in corpus_keep(spark, SF).collect()}
        rb = {r["doc_id"]: r["allowed"]
              for r in robots_filter(spark, SF).collect()}
        bl = {r["doc_id"]: r["blocked"]
              for r in url_blocklist(spark, SF).collect()}
        mr = {r["doc_id"]: r["indexable"]
              for r in meta_robots(spark, SF).collect()}
        got = web_keep(spark, SF).collect()
        assert {r["doc_id"] for r in got} == set(ck)  # eval split excluded
        kept = 0
        for r in got:
            d = r["doc_id"]
            want = ck[d] and rb[d] and not bl[d] and mr[d]
            assert r["web_keep"] == want, d
            kept += want
        assert kept > 0, "fixture must let some docs through every gate"


class TestBoilerplateStrip:
    def test_banner_stripped_body_and_promo_kept(self, spark):
        import hashlib

        from ragflow_core16_spark.operators.webclean import (
            _BP_SITES, boilerplate_strip)

        def md5i(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        docs = {r["doc_id"]: r["text"] for r in
                spark.read.parquet(f"{SF}/documents.parquet").collect()
                if r["text"].strip()}
        rows = boilerplate_strip(spark, SF).collect()
        assert len(rows) == len(docs)
        promos = 0
        for r in rows:
            site = f"site{md5i('42:bph:%d' % r['doc_id']) % _BP_SITES}"
            assert r["site"] == site
            paras = r["kept_text"].split("\n")
            # the site-wide banner is NEVER in the kept text
            assert f"subscribe to {site} newsletter" not in paras
            # body halves reassemble the normalized document text
            w = " ".join(docs[r["doc_id"]].lower().split()).split(" ")
            k = (len(w) + 1) // 2
            body = [" ".join(w[:k])] + ([" ".join(w[k:])] if w[k:] else [])
            assert paras[:len(body)] == body
            has_promo = md5i(f"42:bpb:{r['doc_id']}") % 11 == 0
            if has_promo:
                promos += 1
                assert paras[-1].startswith(f"limited promo {site} ")
            assert r["n_kept"] == len(body) + (1 if has_promo else 0)
        assert promos > 0, "promo branch must be populated"

    def test_plan_one_broadcast_cokey_anti_join(self, spark):
        from ragflow_core16_spark.operators.webclean import _bp_paras
        # paras view is in-row: the only Exchange is _docs' spread()
        # round-robin repartition, no Python stage
        plan = _formatted(_bp_paras(spark, SF))
        assert plan.count(") Exchange") <= 1
        assert "hashpartitioning" not in plan
        assert "BatchEvalPython" not in plan


class TestUrlTemplates:
    def test_matches_pure_python_folding(self, spark):
        import hashlib
        import re
        from collections import Counter

        from ragflow_core16_spark.operators.webclean import (_TRAP_MIN_D,
                                                             url_templates)

        def md5i(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        doc_ids = [r["doc_id"] for r in
                   spark.read.parquet(f"{SF}/documents.parquet").collect()]
        tlds = ["com", "org", "net", "cn"]
        secs = ["news", "blog", "docs", "wiki"]
        census = Counter()
        for d in doc_ids:
            host = (f"host{md5i(f'42:url:{d}') % 500:04d}"
                    f".example.{tlds[md5i(f'42:tld:{d}') % 4]}")
            path = f"/{secs[md5i(f'42:sec:{d}') % 4]}/{d}"
            if md5i(f"42:trap:{d}") % 5 == 0:
                path += (f"/2024/{md5i(f'42:trm:{d}') % 12 + 1}"
                         f"/{md5i(f'42:trd:{d}') % 28 + 1}")
            if md5i(f"42:sess:{d}") % 7 == 0:
                path += ";jsessionid=" + hashlib.md5(
                    f"42:sid:{d}".encode()).hexdigest()[:16]
            if md5i(f"42:page:{d}") % 3 == 0:
                path += f"?page={md5i(f'42:pgn:{d}') % 40 + 2}"
            tmpl = re.sub(r"[0-9]+", "{d}",
                          re.sub(r"[0-9a-f]{8,}", "{hex}", path))
            census[(host, tmpl)] += 1
        got = {(r["host"], r["template"]): (r["n_urls"], r["is_trap"])
               for r in url_templates(spark, SF).collect()}
        assert set(got) == set(census)
        for (h, t), (n, trap) in got.items():
            assert n == census[(h, t)]
            assert trap == (";jsessionid={hex}" in t
                            or t.count("{d}") >= _TRAP_MIN_D)
        assert any(v[1] for v in got.values())
        assert any(not v[1] for v in got.values())

    def test_plan_single_agg_no_join(self, spark):
        from ragflow_core16_spark.operators.webclean import url_templates
        # the census is one groupBy over in-row folding: no Join anywhere
        plan = _formatted(url_templates(spark, SF))
        assert "Join" not in plan


class TestDecisionTable:
    """materialize_web_decisions: the snapshot-time curation write that
    turns web_keep/corpus_keep into scans (the 100-TB deployment shape —
    the dedup chain runs once per corpus snapshot, never per query)."""

    def test_scan_path_equals_compute_path(self, spark, tmp_path,
                                           monkeypatch):
        from ragflow_core16_spark.operators.dedup import reset_shared_cache
        from ragflow_core16_spark.operators.webclean import (
            corpus_keep, materialize_web_decisions, web_keep)
        reset_shared_cache()
        wk_compute = web_keep(spark, SF).collect()
        ck_compute = corpus_keep(spark, SF).collect()
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        reset_shared_cache()
        materialize_web_decisions(spark, SF)
        reset_shared_cache()
        assert web_keep(spark, SF).collect() == wk_compute
        assert corpus_keep(spark, SF).collect() == ck_compute

    def test_scan_path_is_scan(self, spark, tmp_path, monkeypatch):
        # with the table present the plan must contain NO joins and no
        # trace of the dedup chain — a parquet scan + projection + sort
        from ragflow_core16_spark.operators.webclean import (
            materialize_web_decisions, web_keep)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        materialize_web_decisions(spark, SF)
        plan = _formatted(web_keep(spark, SF))
        assert "Join" not in plan

    def test_incomplete_table_never_serves(self, spark, tmp_path,
                                           monkeypatch):
        # a crashed write (data files, no published manifest) must be
        # invisible: the query falls back to the compute path instead of
        # reading partial data
        import os

        from ragflow_core16_spark.pipeline.snapshot_cache import (
            read_table, table_path)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        path = table_path("web_decisions", SF)
        spark.range(3).toDF("doc_id").write.parquet(
            os.path.join(path, "data", "crashed"))
        assert read_table(spark, "web_decisions", SF) is None

    def test_fingerprint_tracks_input_bytes(self, tmp_path, monkeypatch):
        # a regenerated documents file under the SAME sf_dir must map to
        # a DIFFERENT table path — staleness is structurally impossible
        import os
        import shutil

        from ragflow_core16_spark.pipeline.snapshot_cache import table_path
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        sf2 = tmp_path / "sf"
        sf2.mkdir()
        shutil.copy(f"{SF}/documents.parquet", sf2 / "documents.parquet")
        p1 = table_path("web_decisions", str(sf2))
        os.utime(sf2 / "documents.parquet", ns=(1, 1))
        assert table_path("web_decisions", str(sf2)) != p1

    def test_materialize_is_idempotent(self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators.webclean import (
            materialize_web_decisions)
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        p = materialize_web_decisions(spark, SF)
        t = SnapshotTable(spark, p)
        assert t.current_version() == 1
        assert materialize_web_decisions(spark, SF) == p
        assert t.current_version() == 1


class TestCurationFunnel:
    def test_funnel_is_monotone_and_anchored(self, spark):
        from ragflow_core16_spark.operators.webclean import (
            corpus_keep, curation_funnel, web_keep)
        rows = curation_funnel(spark, SF).collect()
        assert [r["gate"] for r in rows] == [
            "gopher", "c4", "dedup", "decontam", "robots", "blocklist",
            "meta_robots"]
        surv = [r["n_surviving"] for r in rows]
        assert surv == sorted(surv, reverse=True)  # cumulative AND shrinks
        # the funnel's terminal survivor count IS the web_keep keep count
        kept = sum(1 for r in web_keep(spark, SF).collect() if r["web_keep"])
        assert surv[-1] == kept
        # and the 4th stage equals corpus_keep's keep count
        ck = sum(1 for r in corpus_keep(spark, SF).collect()
                 if r["corpus_keep"])
        assert surv[3] == ck

    def test_scan_path_plan_single_agg_no_join(self, spark, tmp_path,
                                               monkeypatch):
        from ragflow_core16_spark.operators.webclean import (
            curation_funnel, materialize_web_decisions)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        materialize_web_decisions(spark, SF)
        plan = _formatted(curation_funnel(spark, SF))
        assert "Join" not in plan
        # formatted plans print each node in tree + detail sections, so
        # one partial+final aggregate pair appears <= 4 times
        assert plan.count("HashAggregate") <= 4
