"""GraphRAG as columnar relational algebra — deterministic stand-ins for
every LLM slot of the reference's knowledge-graph pipeline.

Reference shape (`/root/reference/graphrag/general/index.py`,
`graph_extractor.py`, `entity_resolution.py:94-176`,
`community_reports_extractor.py:59-124`, `leiden.py`): an LLM extracts
(entity, type, description) and (src, dst, strength) tuples per chunk, the
per-chunk graphs merge by entity name, an editdistance-banded candidate
pass feeds an LLM same-entity resolver, Leiden partitions the merged graph
into hierarchical communities, and one more LLM call writes a per-community
report (title, summary, rating, findings).  Every model call sits in a slot
the surrounding dataflow treats as a pure function — exactly like the
``tfidf_keywords`` stand-in for the auto-keyword slot
(`operators/textstats.py`), each slot below gets a DETERMINISTIC stand-in
so the dataflow itself is testable cross-engine:

* entity extraction  → salient BIGRAMS (document-frequency-gated adjacent
  word pairs; type = relative-df band).  The reference's "light" mode
  similarly treats extracted keyword phrases as graph nodes.
* same-entity LLM    → suffix-variation rule (shared head word, edit
  distance ≤ 2) applied to the reference's OWN candidate gate
  (``editdistance.eval(a,b) <= min(len(a),len(b)) // 2``,
  `entity_resolution.py:166-170`), banded by shared head/tail word so the
  pair search is never |V|².
* relationship strength → integer lift (co-occurrence support × corpus
  size vs the product of document frequencies, cross-multiplied — no
  floats, no logs).
* Leiden             → min-label propagation to fixpoint (the same
  connected-component machinery as ``dedup_clusters``; Leiden's refinement
  drops into the loop unchanged if modularity-grade partitions are needed).
* community report LLM → extractive report: title = two highest
  weighted-degree members, findings = strongest edges, rating = size
  ladder mirroring the 0-10 IMPACT scale of
  `community_report_prompt.py:20`.

Spark shape at 100 TB: the mention relation is one explode + groupBy of the
document scan (map-side combinable); the vocabulary (entity, df) is tiny
relative to the corpus and broadcasts; the co-occurrence join is keyed on
doc_id over the top-K per-doc entity sets, so its output is ≤ K²/2 rows per
document — never |V|²; label propagation iterates over the EDGE list only.
All ranking math is integer-exact (counts and cross-multiplications), so
partial-aggregation order can never perturb a result and the DuckDB oracles
match bit-for-bit.  (At 10^12 docs the lift cross-product ``cooc·n·10^6``
approaches BIGINT range — deployments at that scale compare
``cooc·n > df_a·df_b`` first and compute the ppm readout on the surviving,
much smaller edge relation, as noted inline.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import memo, read_documents

DF_MIN = 3          # entity gate: appears in >= 3 documents
TOP_K = 6           # entities kept per document (caps co-occurrence fanout)
MIN_COOC = 2        # edge support gate
CONCEPT_PCT = 5     # df >= 5% of corpus  -> "concept"
TERM_PCT = 2        # df >= 2% of corpus  -> "term", else "rare"
MERGE_LEV = 2       # deterministic same-entity rule: shared head, lev <= 2
PPM = 1_000_000


# ---------------------------------------------------------------- inputs
def _mentions(spark, sf_dir) -> DataFrame:
    """(doc_id, entity, mentions) over df-gated bigram entities; memoized
    (temp-table semantics) because all five graph queries re-read it."""
    def build():
        d = read_documents(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
        ws = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                      r"\s+", " "), " ")
        bg = (d.withColumn("ws", ws)
              .filter(F.size("ws") >= 2)
              .select("doc_id",
                      F.explode(F.expr(
                          "transform(sequence(0, size(ws)-2),"
                          " i -> concat(ws[i], ' ', ws[i+1]))"))
                      .alias("entity")))
        m = bg.groupBy("doc_id", "entity").agg(
            F.count(F.lit(1)).alias("mentions"))
        gated = (m.groupBy("entity")
                 .agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") >= DF_MIN))
        # vocabulary is tiny vs the corpus: broadcast the gate
        return m.join(F.broadcast(gated), "entity").select(
            "doc_id", "entity", "mentions", "df")
    return memo("graphrag_mentions", spark, sf_dir, build)


def _n_docs(spark, sf_dir) -> int:
    """Corpus size = documents contributing >= 1 bigram (one cheap count
    per session; a literal from the lineage table at deployment)."""
    return memo("graphrag_n", spark, sf_dir,
                lambda: relation(spark, "graphrag_mentions", sf_dir)
                .select("doc_id").distinct().count())


def _tops(spark, sf_dir) -> DataFrame:
    """Top-K entities per document by (mentions desc, entity asc) — the
    per-chunk entity list the reference's extractor emits."""
    m = relation(spark, "graphrag_mentions", sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("mentions"), F.asc("entity"))
    return (m.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K))


# Shared SQL prefix: the same gated-mention relation, relationally.
_MENTIONS_CTE = f"""
w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents WHERE length(trim(text)) > 0),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS entity
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2),
m0 AS (
  SELECT doc_id, entity, CAST(count(*) AS BIGINT) AS mentions
  FROM bg GROUP BY doc_id, entity),
vocab AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS df
  FROM m0 GROUP BY entity HAVING count(*) >= {DF_MIN}),
m AS (
  SELECT m0.doc_id, m0.entity, m0.mentions, vocab.df
  FROM m0 JOIN vocab USING (entity)),
nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM m)"""

_TOPS_CTE = f"""
tops AS (
  SELECT * FROM (
    SELECT doc_id, entity, mentions, df,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY mentions DESC, entity ASC) AS INTEGER) AS rank
    FROM m) WHERE rank <= {TOP_K})"""


# ------------------------------------------------------- entity extraction
def entity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document entity tuples — the deterministic stand-in for the
    reference's per-chunk extraction call
    (`graphrag/general/graph_extractor.py`, output format
    `graph_prompt.py:15-27`): (entity, type, per-doc mention count, rank).
    Type is a relative-df band, integer cross-multiplied."""
    n = _n_docs(spark, sf_dir)
    t = _tops(spark, sf_dir)
    etype = (F.when(F.col("df") * 100 >= F.lit(n) * CONCEPT_PCT, "concept")
             .when(F.col("df") * 100 >= F.lit(n) * TERM_PCT, "term")
             .otherwise("rare"))
    from ..session import ordered
    return (t.select("doc_id", "entity", etype.alias("etype"),
                     "mentions", "rank")
            .transform(ordered("doc_id", "rank")))


ENTITY_EXTRACT_SQL = f"""
WITH {_MENTIONS_CTE},
{_TOPS_CTE}
SELECT doc_id, entity,
       CASE WHEN df * 100 >= (SELECT n FROM nn) * {CONCEPT_PCT}
              THEN 'concept'
            WHEN df * 100 >= (SELECT n FROM nn) * {TERM_PCT} THEN 'term'
            ELSE 'rare' END AS etype,
       mentions, rank
FROM tops ORDER BY doc_id, rank
"""


# ------------------------------------------------------- entity resolution
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate same-entity pairs + merge verdicts.

    The candidate gate is the reference's own English branch verbatim
    (`entity_resolution.py:166-170`): edit distance ≤ min(len)//2.  The
    LLM verdict slot (`_resolve_candidate`) gets a deterministic rule:
    merge iff the pair shares its head word and differs by ≤ {MERGE_LEV}
    edits (suffix variation).  Pairing is banded by shared head OR tail
    word, so the search is a keyed self-join over tiny bands — never
    |V|²."""
    v = (relation(spark, "graphrag_mentions", sf_dir)
         .select("entity").distinct()
         .withColumn("head", F.split("entity", " ")[0])
         .withColumn("tail", F.split("entity", " ")[1]))
    pairs = None
    for band in ("head", "tail"):
        a = v.select(F.col("entity").alias("entity_a"),
                     F.col(band).alias("band"))
        b = v.select(F.col("entity").alias("entity_b"),
                     F.col(band).alias("band"))
        p = (a.join(b, "band")
             .filter(F.col("entity_a") < F.col("entity_b"))
             .select("entity_a", "entity_b"))
        pairs = p if pairs is None else pairs.union(p)
    lev = F.levenshtein("entity_a", "entity_b")
    cand = (pairs.distinct()
            .withColumn("lev", lev)
            .filter(F.col("lev") <= F.expr(
                "least(length(entity_a), length(entity_b)) div 2")))
    merged = ((F.split("entity_a", " ")[0] == F.split("entity_b", " ")[0])
              & (F.col("lev") <= MERGE_LEV)).cast("int")
    from ..session import ordered
    return (cand.select("entity_a", "entity_b",
                        F.col("lev").cast("int").alias("lev"),
                        merged.alias("merged"))
            .transform(ordered("entity_a", "entity_b")))


ENTITY_RESOLUTION_SQL = f"""
WITH {_MENTIONS_CTE},
v AS (SELECT entity,
             string_split(entity, ' ')[1] AS head,
             string_split(entity, ' ')[2] AS tail
      FROM (SELECT DISTINCT entity FROM m)),
pairs AS (
  SELECT a.entity AS entity_a, b.entity AS entity_b
  FROM v a JOIN v b ON a.head = b.head AND a.entity < b.entity
  UNION
  SELECT a.entity, b.entity
  FROM v a JOIN v b ON a.tail = b.tail AND a.entity < b.entity),
cand AS (
  SELECT entity_a, entity_b,
         CAST(levenshtein(entity_a, entity_b) AS INTEGER) AS lev
  FROM pairs
  WHERE levenshtein(entity_a, entity_b)
        <= least(length(entity_a), length(entity_b)) // 2)
SELECT entity_a, entity_b, lev,
       CAST(string_split(entity_a, ' ')[1] = string_split(entity_b, ' ')[1]
            AND lev <= {MERGE_LEV} AS INTEGER) AS merged
FROM cand ORDER BY entity_a, entity_b
"""


# ---------------------------------------------------------- graph merge
def _graph_edges(spark, sf_dir) -> DataFrame:
    """Merged entity graph: co-occurrence of top-K entities within a
    document, support- and lift-gated.  Memoized — communities and reports
    both iterate over it."""
    def build():
        n = _n_docs(spark, sf_dir)
        t = _tops(spark, sf_dir).select("doc_id", "entity", "df")
        a = t.select("doc_id", F.col("entity").alias("src"),
                     F.col("df").alias("df_a"))
        b = t.select("doc_id", F.col("entity").alias("dst"),
                     F.col("df").alias("df_b"))
        pairs = (a.join(b, "doc_id")
                 .filter(F.col("src") < F.col("dst")))
        agg = (pairs.groupBy("src", "dst")
               .agg(F.count(F.lit(1)).alias("weight"),
                    F.first("df_a").alias("df_a"),
                    F.first("df_b").alias("df_b")))
        # gate FIRST on the overflow-safe comparison, then compute the ppm
        # readout on the surviving edges only (BIGINT headroom note above)
        kept = agg.filter((F.col("weight") >= MIN_COOC)
                          & (F.col("weight") * n
                             > F.col("df_a") * F.col("df_b")))
        return kept.select(
            "src", "dst", "weight",
            F.expr(f"weight * {n} * {PPM} div (df_a * df_b)")
            .cast("bigint").alias("lift_ppm"))
    return memo("graphrag_edges", spark, sf_dir, build)


def entity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged knowledge graph — the reference accumulates per-chunk
    tuples into one nx.Graph keyed by entity name
    (`graphrag/general/extractor.py`); here the merge IS the groupBy and
    the LLM's 1-10 relationship strength is an integer lift score."""
    from ..session import ordered
    return (relation(spark, "graphrag_edges", sf_dir)
            .transform(ordered("src", "dst")))


_EDGES_CTE = f"""
pairs AS (
  SELECT a.doc_id, a.entity AS src, b.entity AS dst,
         a.df AS df_a, b.df AS df_b
  FROM tops a JOIN tops b
    ON a.doc_id = b.doc_id AND a.entity < b.entity),
agg AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight,
         any_value(df_a) AS df_a, any_value(df_b) AS df_b
  FROM pairs GROUP BY src, dst),
edges AS (
  SELECT src, dst, weight,
         CAST(weight * (SELECT n FROM nn) * {PPM} // (df_a * df_b)
              AS BIGINT) AS lift_ppm
  FROM agg
  WHERE weight >= {MIN_COOC}
    AND weight * (SELECT n FROM nn) > df_a * df_b)"""

ENTITY_GRAPH_SQL = f"""
WITH {_MENTIONS_CTE},
{_TOPS_CTE},
{_EDGES_CTE}
SELECT src, dst, weight, lift_ppm FROM edges ORDER BY src, dst
"""


# ---------------------------------------------------------- communities
def _labels(spark, sf_dir) -> DataFrame:
    """(node, community) via min-label propagation over the entity graph —
    same fixpoint machinery as ``dedup_clusters``
    (`operators/dedup.py:_cluster_labels`), here with STRING labels (the
    lexicographic min entity names the component).  Converges in
    O(component diameter) keyed shuffles over the edge list.  The
    reference computes Leiden communities once at index time
    (`graphrag/general/index.py`) and stores them: the
    ``graphrag_labels`` table."""
    e = relation(spark, "graphrag_edges", sf_dir).select("src", "dst")
    edges = (e.union(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    while True:
        neigh = (edges.join(labels, edges.dst == labels.node)
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.min("label").alias("nmin")))
        new = (labels.withColumnRenamed("label", "old")
               .join(neigh, "node", "left")
               .select("node",
                       F.least("old", F.coalesce("nmin", "old"))
                       .alias("label"), "old")
               .localCheckpoint())
        changed = new.filter(F.col("label") != F.col("old")).count()
        labels = new.drop("old")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("community"))


def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community partition of the entity graph — the Leiden slot
    (`graphrag/general/leiden.py:run`).  Stand-in: connected components by
    min-label propagation (community id = lexicographically smallest
    member), sizes + member lists."""
    lab = relation(spark, "graphrag_labels", sf_dir)
    from ..session import ordered_once
    return ordered_once(
        lab.groupBy(F.col("community").alias("community_id"))
        .agg(F.count(F.lit(1)).alias("size"),
             F.array_join(F.array_sort(F.collect_list("node")), ",")
             .alias("members")),
        "community_id")


_REACH_CTE = """
sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach AS (
  SELECT src AS node, src AS r FROM sym
  UNION
  SELECT s.src AS node, r.r
  FROM reach r JOIN sym s ON s.dst = r.node),
labels AS (SELECT node, min(r) AS community FROM reach GROUP BY node)"""

GRAPH_COMMUNITIES_SQL = f"""
WITH RECURSIVE {_MENTIONS_CTE},
{_TOPS_CTE},
{_EDGES_CTE},
{_REACH_CTE}
SELECT community AS community_id, CAST(count(*) AS BIGINT) AS size,
       string_agg(node, ',' ORDER BY node) AS members
FROM labels GROUP BY community ORDER BY community_id
"""


# ------------------------------------------------------ community reports
_RATING_LADDER = ((32, 10), (16, 8), (8, 6), (4, 4), (2, 2))


def community_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive community report — the stand-in for the per-community
    LLM call (`community_reports_extractor.py:64-112`, output contract
    `community_report_prompt.py:18-23`): title from the two highest
    weighted-degree members, findings from the strongest edges, and a 0-10
    size-ladder rating in place of the IMPACT score.  One groupBy over the
    (tiny) labeled edge relation."""
    lab = relation(spark, "graphrag_labels", sf_dir)
    e = relation(spark, "graphrag_edges", sf_dir)
    # weighted degree per node (both endpoints), then community rollups
    deg = (e.select(F.col("src").alias("node"), "weight")
           .union(e.select(F.col("dst").alias("node"), "weight"))
           .groupBy("node").agg(F.sum("weight").alias("wdeg")))
    nd = lab.join(deg, "node")
    w = Window.partitionBy("community").orderBy(F.desc("wdeg"),
                                                F.asc("node"))
    top2 = (nd.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 2)
            .groupBy("community")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("r", "node"))), lambda s: s["node"]), " + ")
                .alias("title")))
    stats = (nd.groupBy("community")
             .agg(F.count(F.lit(1)).alias("n_entities"),
                  F.sum("wdeg").alias("wdeg2")))
    # every edge is intra-community by construction: label via src
    el = e.join(lab.withColumnRenamed("node", "src"), "src")
    estats = (el.groupBy("community")
              .agg(F.count(F.lit(1)).alias("n_edges"),
                   F.sum("weight").alias("weight_total")))
    we = Window.partitionBy("community").orderBy(
        F.desc("weight"), F.asc("src"), F.asc("dst"))
    findings = (el.withColumn("r", F.row_number().over(we))
                .filter(F.col("r") <= 3)
                .withColumn("s", F.concat_ws("", F.col("src"), F.lit("<->"),
                                             F.col("dst"), F.lit(" ("),
                                             F.col("weight"), F.lit(")")))
                .groupBy("community")
                .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list(
                        F.struct("r", "s"))), lambda x: x["s"]), "; ")
                    .alias("findings")))
    rating = F
    for lo, score in _RATING_LADDER:
        rating = rating.when(F.col("n_entities") >= lo, score)
    rating = rating.otherwise(1)
    from ..session import ordered_once
    out = (stats.join(top2, "community").join(estats, "community")
           .join(findings, "community")
           .select(F.col("community").alias("community_id"),
                   "n_entities", "n_edges", "weight_total", "title",
                   rating.cast("int").alias("rating"), "findings"))
    return ordered_once(out, "community_id")


_RATING_SQL = ("CASE " + " ".join(
    f"WHEN n_entities >= {lo} THEN {score}"
    for lo, score in _RATING_LADDER) + " ELSE 1 END")

COMMUNITY_REPORTS_SQL = f"""
WITH RECURSIVE {_MENTIONS_CTE},
{_TOPS_CTE},
{_EDGES_CTE},
{_REACH_CTE},
deg AS (
  SELECT node, CAST(sum(weight) AS BIGINT) AS wdeg FROM (
    SELECT src AS node, weight FROM edges
    UNION ALL SELECT dst AS node, weight FROM edges)
  GROUP BY node),
nd AS (SELECT l.node, l.community, d.wdeg
       FROM labels l JOIN deg d USING (node)),
top2 AS (
  SELECT community, string_agg(node, ' + ' ORDER BY r) AS title FROM (
    SELECT community, node, row_number() OVER (PARTITION BY community
           ORDER BY wdeg DESC, node ASC) AS r FROM nd)
  WHERE r <= 2 GROUP BY community),
stats AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_entities
  FROM nd GROUP BY community),
el AS (SELECT e.*, l.community FROM edges e
       JOIN labels l ON e.src = l.node),
estats AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(weight) AS BIGINT) AS weight_total
  FROM el GROUP BY community),
findings AS (
  SELECT community, string_agg(s, '; ' ORDER BY r) AS findings FROM (
    SELECT community,
           src || '<->' || dst || ' (' || weight || ')' AS s,
           row_number() OVER (PARTITION BY community
                ORDER BY weight DESC, src ASC, dst ASC) AS r
    FROM el) WHERE r <= 3 GROUP BY community)
SELECT s.community AS community_id, s.n_entities, e.n_edges,
       e.weight_total, t.title, CAST({_RATING_SQL} AS INTEGER) AS rating,
       f.findings
FROM stats s JOIN top2 t USING (community)
JOIN estats e USING (community) JOIN findings f USING (community)
ORDER BY community_id
"""


QUERIES = {
    "entity_extract": (entity_extract, ENTITY_EXTRACT_SQL),
    "entity_resolution": (entity_resolution, ENTITY_RESOLUTION_SQL),
    "entity_graph": (entity_graph, ENTITY_GRAPH_SQL),
    "graph_communities": (graph_communities, GRAPH_COMMUNITIES_SQL),
    "community_reports": (community_reports, COMMUNITY_REPORTS_SQL),
}
