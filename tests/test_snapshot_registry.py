"""The snapshot-table family registry (``snapshot_cache.FAMILIES``) is the
one declaration of which tables exist, which function computes each and
which a day-2 delta maintains, ``snapshot_cache.relation`` is the one
scan-or-compute branch, and ``session.documents_scan`` is the one reader
of a corpus's documents.  These checks read the package source — no
Spark."""

import ast
import inspect
import os
import re
import textwrap

from ragflow_core16_spark.pipeline import snapshot_cache as SC

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ragflow_core16_spark")
OPERATORS = os.path.join(PKG, "operators")

#: the operators' own ``read_table`` calls, as (module, function, kind):
#: each falls back to something cheaper than its kind's full compute
#: (``semantic_dedup`` scans only at the default threshold)
DIRECT_SCANS = {
    ("dedup", "minhash_lsh_pairs", "dedup_pairs"),
    ("dedup", "ngram_jaccard", "dedup_pairs"),
    ("dedup", "_cluster_labels", "dedup_pairs"),
    ("graph", "pagerank", "webgraph_ranks"),
    ("graph", "hits", "webgraph_ranks"),
    ("retrieval", "_term_tf", "term_postings"),
    ("retrieval", "_hybrid_scores", "term_postings"),
    ("similarity", "semantic_dedup", "semantic_labels"),
    ("webclean", "corpus_keep_decisions", "web_decisions"),
}


def _sources():
    for dirpath, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    yield fh.read()


def _owner(kind):
    return [f.name for f in SC.FAMILIES if kind in f.kinds]


def _table_calls(tree):
    """(top-level function, callee, kind) for every ``read_table`` /
    ``relation`` call with a literal kind in a parsed module."""
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in ("read_table", "relation")
                    and len(node.args) > 1
                    and isinstance(node.args[1], ast.Constant)):
                yield fn.name, node.func.id, node.args[1].value


def test_every_table_literal_belongs_to_exactly_one_family():
    every = [k for f in SC.FAMILIES for k in f.kinds]
    assert len(every) == len(set(every)) == 25
    for f in SC.FAMILIES:
        for ref in f.kinds.values():
            assert callable(SC._resolve(ref)), ref
    call = re.compile(r'\b(?:read_table|relation)\(\s*spark,\s*"(\w+)"')
    kinds = {k for src in _sources() for k in call.findall(src)}
    assert kinds
    for kind in sorted(kinds):
        assert len(_owner(kind)) == 1, (kind, _owner(kind))


def test_curate_and_index_jobs_partition_all_kinds():
    by_job = {job: [k for f in SC.FAMILIES if f.job == job
                    for k in f.kinds] for job in ("curate", "index")}
    assert {f.job for f in SC.FAMILIES} == {"curate", "index"}
    assert not set(by_job["curate"]) & set(by_job["index"])
    every = by_job["curate"] + by_job["index"]
    assert len(every) == len(set(every)) == 25
    assert len(by_job["index"]) == 16


def test_names_resolve_to_the_declared_functions():
    for f in SC.FAMILIES:
        for ref in f.kinds.values():
            assert SC._resolve(ref).__name__ == ref.rsplit(".", 1)[1]
        if f.delta:
            assert SC._resolve(f.delta).__name__ == f.delta.rsplit(".", 1)[1]
            assert f.delta_kinds and set(f.delta_kinds) <= set(f.kinds)
        else:
            assert f.delta_kinds == ()


def test_order_puts_each_dependency_first():
    names = [f.name for f in SC.FAMILIES]
    # the full decision-table build scans the dedup labels
    assert names.index("dedup_index") < names.index("web_decisions")
    # the decision-table merge reads the merged labels and decon postings
    delta = [f.name for f in SC.DELTA_FAMILIES]
    assert delta == ["dedup_index", "decon_index", "web_decisions",
                     "retrieval_index"]


def test_delta_kind_sets_are_derived_from_the_registry():
    from ragflow_core16_spark.pipeline import incremental
    assert incremental.DEDUP_KINDS == ("minhash_sigwide", "dedup_pairs",
                                       "dedup_labels", "simhash_fp")
    assert incremental.DECON_KINDS == ("decon_bench_grams",
                                       "decon_train_grams")
    assert incremental.RETRIEVAL_KINDS == ("term_postings", "doc_stats")
    maintained = {k for f in SC.DELTA_FAMILIES for k in f.delta_kinds}
    assert len(maintained) == 9
    assert "substring_spans" in SC.NOT_DELTA_MAINTAINED
    assert len(SC.NOT_DELTA_MAINTAINED) == 25 - 9
    assert not maintained & set(SC.NOT_DELTA_MAINTAINED)


def test_no_registered_compute_reads_its_own_kind():
    for f in SC.FAMILIES:
        for kind, ref in f.kinds.items():
            src = textwrap.dedent(inspect.getsource(SC._resolve(ref)))
            own = [(fn, callee) for fn, callee, k in
                   _table_calls(ast.parse(src)) if k == kind]
            assert not own, (ref, own)


def test_operators_call_read_table_only_at_the_listed_sites():
    found = set()
    for name in sorted(os.listdir(OPERATORS)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(OPERATORS, name)) as fh:
            tree = ast.parse(fh.read())
        found |= {(name[:-3], fn, kind)
                  for fn, callee, kind in _table_calls(tree)
                  if callee == "read_table"}
    assert found == DIRECT_SCANS


def _names_documents(node) -> bool:
    return any(isinstance(c, ast.Constant) and isinstance(c.value, str)
               and "documents.parquet" in c.value for c in ast.walk(node))


def _is_read(node) -> bool:
    """``<x>.read`` somewhere down a ``.parquet`` call's receiver chain
    (``spark.read``, ``spark.read.option(...)``), not ``<df>.write``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def _documents_reads(tree):
    """Line of every ``<x>.read....parquet(path)`` whose path names
    ``documents.parquet``, literally or through a variable assigned from
    an expression that does."""
    paths = {t.id for node in ast.walk(tree)
             if isinstance(node, ast.Assign) and _names_documents(node.value)
             for t in node.targets if isinstance(t, ast.Name)}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and _is_read(node.func.value)
                and any(_names_documents(a)
                        or isinstance(a, ast.Name) and a.id in paths
                        for a in node.args)):
            yield node.lineno


def test_only_session_reads_the_documents_layout():
    reads = []
    for top in (PKG, os.path.join(REPO, "jobs")):
        for dirpath, _dirs, files in os.walk(top):
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                if (not f.endswith(".py")
                        or path == os.path.join(PKG, "session.py")):
                    continue
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                reads += [f"{os.path.relpath(path, REPO)}:{line}"
                          for line in _documents_reads(tree)]
    assert reads == []
