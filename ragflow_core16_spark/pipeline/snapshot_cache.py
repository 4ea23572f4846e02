"""Per-corpus-snapshot materialized tables (the ingest-time index shape).

The reference builds its expensive derived artifacts ONCE at ingest —
the GraphRAG entity graph and community structure
(`graphrag/general/index.py`), the RAPTOR tree (`rag/raptor.py` via the
task executor), the curation verdicts — and every query reads the stored
result.  This module is that contract for the Spark engine: an explicit
``materialize(kind, ...)`` write per corpus snapshot, keyed by a
fingerprint of the backing documents files.

One rule decides scan or compute: ``relation(spark, kind, sf_dir)`` scans
the kind's published table and otherwise calls the compute ``FAMILIES``
registers for it (so a fresh session with no warehouse, such as an
oracle-parity run, still exercises the full compute path).  The registered
computes never look for their own table; a query, or a compute that reads
a kind built before its own, asks ``relation`` for that kind.  A caller
whose fallback is cheaper than the kind's full compute (a query that
needs only part of it) calls ``read_table`` itself.

Each table is a ``pipeline/snapshots.py`` ``SnapshotTable``: a build is
one manifest commit, so a crashed write (no published version) never
serves, and ``jobs/maintenance_job.py --table`` maintains it like any
other snapshot table.

Staleness is structural, not temporal: the path embeds
(relative path, size, mtime) of EVERY file backing ``documents.parquet``
(recursively — a partitioned dataset's part files live in subdirectories
whose own mtime does not change on in-place rewrite), so a regenerated
fixture under an unchanged sf_dir misses the cache.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import os
from typing import NamedTuple

from .snapshots import SnapshotTable


class Family(NamedTuple):
    """A group of snapshot tables built together, in ``kinds`` order.

    ``kinds`` maps each kind to the ``(spark, sf_dir) -> DataFrame``
    function that computes it, and ``delta`` names the day-2 merge in
    ``pipeline/incremental.py`` — ``(spark, base_dir, batch_dir,
    combined_dir, recrawl_ids) -> {kind: DataFrame}`` for the kinds in
    ``delta_kinds`` — or is None when the family only rebuilds.  Both
    are dotted names under the package, resolved on first call: the
    operators import this module, so it cannot import them."""
    name: str
    job: str                    # the job that builds it: curate | index
    kinds: dict[str, str]
    delta: str | None = None
    delta_kinds: tuple[str, ...] = ()

    def build(self, spark, sf_dir: str) -> list[str]:
        """Materialize each kind in order (a published one is skipped),
        so a later kind's compute, reading an earlier kind through
        ``relation``, scans its table.  Returns the table paths."""
        return [materialize(spark, kind, sf_dir,
                            functools.partial(_resolve(ref), spark, sf_dir))
                for kind, ref in self.kinds.items()]

    def merge(self, *args):
        return _resolve(self.delta)(*args)


def _resolve(ref: str):
    mod, _, attr = ref.rpartition(".")
    return getattr(importlib.import_module(f"..{mod}", __package__), attr)


#: every snapshot-table family, in build order: a later family's compute
#: may scan an earlier family's tables (the decision table's dedup_kept
#: reads the dedup labels), and a later delta may read an earlier delta's
#: merged tables (the decision-table merge reads the merged labels and
#: decontamination postings)
FAMILIES = (
    Family("dedup_index", "curate",
           {"minhash_sigwide": "operators.dedup._signature_wide",
            "dedup_pairs": "operators.dedup._pairs_index_unordered",
            "dedup_labels": "operators.dedup._cluster_labels",
            "simhash_fp": "operators.dedup._simhash_unordered",
            "substring_spans": "operators.dedup._substring_spans_unordered"},
           "pipeline.incremental.dedup_index_delta_frames",
           ("minhash_sigwide", "dedup_pairs", "dedup_labels",
            "simhash_fp")),
    Family("site_boilerplate", "curate",
           {"site_boilerplate": "operators.webclean._site_boilerplate"}),
    Family("decon_index", "curate",
           {"decon_bench_grams": "operators.training._decon_bench_grams",
            "decon_train_grams": "operators.training._decon_train_grams"},
           "pipeline.incremental.decon_delta_frames",
           ("decon_bench_grams", "decon_train_grams")),
    Family("web_decisions", "curate",
           {"web_decisions": "operators.webclean.web_decisions_unordered"},
           "pipeline.incremental.web_decisions_delta_frames",
           ("web_decisions",)),
    Family("graph_index", "index",
           {"graphrag_mentions": "operators.graphrag._mentions",
            "graphrag_edges": "operators.graphrag._graph_edges",
            "graphrag_labels": "operators.graphrag._labels"}),
    Family("raptor_tree", "index",
           {"raptor_nodes": "operators.raptor._tree_nodes",
            "raptor_edges": "operators.raptor._tree_edges"}),
    Family("keywords", "index",
           {"tfidf_keywords": "operators.textstats._tfidf_ranked"}),
    Family("tag_features", "index",
           {"tag_features": "operators.tagging._tag_content_scored"}),
    Family("doc_embeddings", "index",
           {"doc_embeddings": "operators.embed._doc_vectors"}),
    Family("webgraph_ranks", "index",
           {"webgraph_ranks": "operators.graph._ranks_unordered"}),
    Family("semantic_labels", "index",
           {"semantic_labels":
            "operators.similarity._semantic_labels_unordered"}),
    Family("bpe_merges", "index",
           {"bpe_merges": "operators.training.bpe_train"}),
    Family("kn_bigram_lm", "index",
           {"kn_bigram_lm": "operators.textstats._kn_bigram_lm"}),
    Family("lang_unigram_lm", "index",
           {"lang_unigram_lm": "operators.textstats._lang_unigram_freqs"}),
    Family("dsir_hist", "index",
           {"dsir_hist": "operators.training._dsir_hist"}),
    Family("retrieval_index", "index",
           {"term_postings": "operators.retrieval._per_doc_tf",
            "doc_stats": "operators.retrieval._dl_rel"},
           "pipeline.incremental.retrieval_index_delta_frames",
           ("term_postings", "doc_stats")),
)
#: family name → family
BY_NAME = {f.name: f for f in FAMILIES}
#: kind → dotted name of its compute
COMPUTE = {k: ref for f in FAMILIES for k, ref in f.kinds.items()}
#: the families a day-2 batch merges into: the day-1 base a delta needs
DELTA_FAMILIES = tuple(f for f in FAMILIES if f.delta)
#: kinds a delta leaves behind: queries over a delta-built corpus fall
#: back to their compute paths until the next full build
NOT_DELTA_MAINTAINED = tuple(k for f in FAMILIES for k in f.kinds
                             if k not in f.delta_kinds)


def materialize_families(spark, sf_dir: str, families) -> dict[str, str]:
    """Build ``families`` for this corpus snapshot, in order (each build
    is idempotent).  Returns kind → table path."""
    paths = {}
    for fam in families:
        paths.update(zip(fam.kinds, fam.build(spark, sf_dir)))
    return paths


def _default_root() -> str:
    """Stable warehouse anchor: the directory containing the package
    (the repo / deploy root), NOT os.getcwd() — a cwd-relative default
    leaks persistent tables into whatever directory a job was launched
    from and silently misses the cache from any other cwd (ADVICE r4).
    A zip deploy (--py-files) strips the ``.zip`` member path so the
    warehouse lands next to the archive."""
    here = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    while here.endswith(".zip") or ".zip" + os.sep in here + os.sep:
        here = os.path.dirname(here)
        if here in ("", os.sep):
            here = os.getcwd()
            break
    return os.path.join(here, "spark-warehouse", "curation")


def cache_root() -> str:
    return os.environ.get("RAG_CURATION_DIR", _default_root())


def corpus_fingerprint(sf_dir: str) -> str:
    tgt = os.path.join(sf_dir, "documents.parquet")
    parts = []
    if os.path.isdir(tgt):
        for dirpath, dirnames, filenames in sorted(os.walk(tgt)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, tgt)
                st = os.stat(full)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(tgt):
        st = os.stat(tgt)
        parts.append(f"documents.parquet:{st.st_size}:{st.st_mtime_ns}")
    raw = os.path.abspath(sf_dir) + "|" + "|".join(parts)
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def table_path(kind: str, sf_dir: str) -> str:
    return os.path.join(cache_root(), kind, corpus_fingerprint(sf_dir))


def read_table(spark, kind: str, sf_dir: str):
    """The table for this (kind, corpus snapshot), or None if no version
    of it is published."""
    t = SnapshotTable(spark, table_path(kind, sf_dir))
    return t.read() if t.current_version() else None


def relation(spark, kind: str, sf_dir: str):
    """Kind ``kind`` of this corpus snapshot: a scan of its table when a
    version is published, else its registered compute."""
    scan = read_table(spark, kind, sf_dir)
    if scan is not None:
        return scan
    return _resolve(COMPUTE[kind])(spark, sf_dir)


def materialize(spark, kind: str, sf_dir: str, build) -> str:
    """Commit ``build()`` for this (kind, snapshot) unless a version is
    already published.  Returns the table path.  Builds are per-snapshot
    deterministic, so two racing writers each publish a complete,
    identical version; the earlier one's files are superseded, left for
    ``SnapshotTable.vacuum``, never deleted under a reader."""
    path = table_path(kind, sf_dir)
    t = SnapshotTable(spark, path)
    if not t.current_version():
        t.commit_overwrite(build())
    return path
