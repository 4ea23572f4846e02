"""Deduplication operators for a web-scale training-data pipeline.

Four families, all shuffle-conscious:

  * **exact**      — hash-groupBy on normalized content (one shuffle on the
                     hash key; at 10^12 rows this is the cheapest possible
                     dedup: map-side partial agg + AQE-coalesced shuffle).
  * **minhash**    — k-shingle → K md5-based min-hashes → band/bucket LSH.
                     Candidate pairs emerge from a self-join on (band,
                     band_hash) — the join key is the bucket, so the shuffle
                     is proportional to collisions, not to |docs|².
  * **simhash**    — B-bit weighted bit-vote fingerprint; near-dups share
                     fingerprints at small Hamming distance.
  * **ngram-jaccard** — verification metric on candidate pairs only (never
                     materialize the full cross-product).

Everything is pure column expressions + relational ops (explode, groupBy,
join) — Catalyst handles partial aggregation and AQE sizes the shuffles.
The md5-prefix→bigint bridge keeps every hash reproducible in the DuckDB
oracle (Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x'||substr(md5(x),1,15))::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import read_documents

_NORM = r"\s+"


def _norm_text():
    return F.regexp_replace(F.lower(F.trim("text")), _NORM, " ")


def _md5_bigint(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# ------------------------------------------------------------ exact dedup
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups by exact normalized content: one row per group with
    >1 member; canonical = min doc_id (deterministic survivor pick)."""
    d = read_documents(spark, sf_dir).select("doc_id",
                                             _norm_text().alias("norm"))
    return (d.groupBy(F.md5("norm").alias("content_md5"))
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min("doc_id").alias("canonical_doc_id"))
            .filter(F.col("n_dups") > 1)
            .orderBy("content_md5"))


DEDUP_EXACT_SQL = r"""
WITH d AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_md5
  FROM documents)
SELECT content_md5, count(*) AS n_dups, min(doc_id) AS canonical_doc_id
FROM d GROUP BY content_md5 HAVING count(*) > 1 ORDER BY content_md5
"""


# -------------------------------------------------------- shared intermediates
#
# The shingle relation and the wide minhash signature feed three queries
# (signatures, LSH pairs, jaccard verify) and the jaccard verify uses the
# shingles twice more internally.  Memoize them per (session, sf_dir) with
# a MEMORY_AND_DISK persist — the local-mode analogue of materializing the
# intermediate to a temp table, which is what a 100 TB run would do between
# the signature job and the verify job (recomputing a 10^12-row shingle
# derivation three times is the single biggest avoidable cost in the whole
# dedup suite).
_MEMO: dict = {}


def _memo(name: str, spark, sf_dir: str, build):
    """Per-(session, sf_dir) memo.  The cached value carries the session
    OBJECT: a different session (even one reusing the same CPython id after
    GC) rebuilds instead of serving a DataFrame bound to a dead context,
    and entries of replaced sessions are evicted as they are encountered.
    Regenerating fixture parquet under an unchanged sf_dir within one
    session is NOT detected — that is the temp-table semantics this memo
    models."""
    key = (name, sf_dir)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    from pyspark import StorageLevel
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _MEMO[key] = (spark, df)
    return df


def reset_shared_cache() -> None:
    """Unpersist and forget ALL shared cached relations (bench hygiene: lets
    a harness measure each query hermetically — every run pays its own
    materialization instead of inheriting a neighbor's, and storage memory
    doesn't accumulate across an N-query session)."""
    for _sess, df in _MEMO.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _MEMO.clear()
    # sibling module caches that also hold persisted/checkpointed frames:
    # a stale cached tree whose localCheckpoint blocks a harness has since
    # unpersisted fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on reuse,
    # so the reset must forget it too
    from . import raptor
    raptor.release_tree_cache()
    # final sweep: presentation checkpoints (session.ordered_once) and any
    # other lazy localCheckpoint pin RDD-level blocks that never appear in
    # the CacheManager, so DataFrame.unpersist can't reach them.  Every
    # module cache is forgotten above, so no cached plan can legally
    # reference an old checkpoint block — anything still listed in
    # sc.getPersistentRDDs is orphaned storage this reset owns.
    try:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is not None:
            jsc = spark.sparkContext._jsc
            for rdd in list(jsc.getPersistentRDDs().values()):
                rdd.unpersist()
    except Exception:
        pass


def _shingles_cached(spark, sf_dir) -> DataFrame:
    return _memo("shingles", spark, sf_dir,
                 lambda: _shingles(spark, sf_dir))


def _shingles(spark, sf_dir, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc.  Shingling is a pure array-slice
    expression over the split token array (``transform(sequence(...))``) —
    NO per-token explode-then-window pass, so the only shuffle in the whole
    shingle derivation is the final ``distinct``.  At 10^12 docs the old
    window formulation sorts every token; this one stays narrow until the
    dedup agg."""
    return _shingles_of(read_documents(spark, sf_dir))


def _shingles_of(docs: DataFrame) -> DataFrame:
    """The shingle derivation over an arbitrary (doc_id, text, …) relation
    — the delta path (pipeline/incremental.py) shingles the daily batch
    and the candidate-pruned base docs directly."""
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), _NORM, " "), " ")
    return (docs.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 3)
            .select("doc_id", F.explode(F.expr(
                "transform(sequence(0, size(toks)-3), "
                "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
                .alias("shingle"))
            .distinct())


_SHINGLES_CTE = r"""
  toklists AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
    FROM documents),
  tokens AS (
    SELECT doc_id, i AS pos, l[i] AS tok
    FROM toklists, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) u),
  shingles AS (
    SELECT DISTINCT doc_id, tok || ' ' || t1 || ' ' || t2 AS shingle
    FROM (SELECT doc_id, tok,
                 lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
                 lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
          FROM tokens)
    WHERE t2 IS NOT NULL)
"""


# ---------------------------------------------------------------- minhash
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def _signature_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K min-hashes per doc as ONE wide aggregation: the K seed-hashes are
    K column expressions over each shingle row, min-combined in a single
    groupBy(doc_id) with map-side partial agg.  No seed cross join (K×
    row multiplication), no (doc, seed) shuffle key — the shuffle moves
    |docs| rows of K longs, independent of shingle count."""
    return _memo("sigwide", spark, sf_dir,
                 lambda: _sigwide_of(_shingles_cached(spark, sf_dir)))


def _sigwide_of(shingles: DataFrame) -> DataFrame:
    """The wide K-minhash aggregation over a shingle relation (shared by
    the full build and the delta path's batch-only signature job)."""
    aggs = [F.min(_md5_bigint(
        F.concat_ws("#", "shingle", F.lit(str(s))))).alias(f"h{s}")
        for s in range(N_HASHES)]
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, seed, minhash) rows — the wide signature unpivoted via
    ``stack`` (pure projection, no extra shuffle)."""
    wide = relation(spark, "minhash_sigwide", sf_dir)
    stack = ", ".join(f"{s}, h{s}" for s in range(N_HASHES))
    return (wide.selectExpr(
        "doc_id", f"stack({N_HASHES}, {stack}) as (seed, minhash)")
        .select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")
        .orderBy("doc_id", "seed"))


MINHASH_SIG_SQL = (r"""
WITH """ + _SHINGLES_CTE + r""",
  seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
  hashed AS (
    SELECT s.doc_id, sd.seed,
           ('0x' || substr(md5(s.shingle || '#' || sd.seed), 1, 15))::BIGINT AS h
    FROM shingles s CROSS JOIN seeds sd)
SELECT doc_id, seed, min(h) AS minhash
FROM hashed GROUP BY doc_id, seed ORDER BY doc_id, seed
""")


def _band_rel(wide: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) — the LSH band relation over a wide
    signature: each band hash is a pure column expression over the K
    minhash columns (no collect_list agg), unpivoted to 4 rows/doc.
    Per-doc function of the signature alone, so bands computed over any
    sub-corpus equal the corresponding rows of the full corpus — the
    property the delta path's batch⋈corpus bucket join relies on."""
    rows_per_band = N_HASHES // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        seeds = range(b * rows_per_band, (b + 1) * rows_per_band)
        band_cols.append(F.md5(F.concat_ws(",", *[
            F.concat_ws(":", F.lit(str(s)), f"h{s}") for s in seeds]))
            .alias(f"bh{b}"))
    stack = ", ".join(f"{b}, bh{b}" for b in range(N_BANDS))
    return (wide.select("doc_id", *band_cols)
            .selectExpr("doc_id",
                        f"stack({N_BANDS}, {stack}) as (band, band_hash)"))


def _lsh_candidates(wide: DataFrame) -> DataFrame:
    """Band the wide signature (4 bands × 4 rows), bucket-join on (band,
    band_hash) → distinct candidate pairs (doc_a < doc_b).  The join key
    is the bucket, so the shuffle scales with collisions, never |docs|²."""
    bands = _band_rel(wide)
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.band_hash") == F.col("b.band_hash")) &
                      (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with estimated jaccard (fraction of agreeing
    minhashes).  The signature rides as ONE array column per side, so the
    agreement count is a ``zip_with`` expression — no K-row re-join per
    pair.  Shuffles: shingle distinct, signature agg, bucket join, and the
    two signature-array joins — all keyed, none quadratic.

    With a written pair table (``materialize_dedup_index``) this is a
    pure scan + presentation sort."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "dedup_pairs", sf_dir)
    if scan is not None:
        return (scan.select("doc_a", "doc_b", "est_jaccard")
                .orderBy("doc_a", "doc_b"))
    return _lsh_est_unordered(spark, sf_dir).orderBy("doc_a", "doc_b")


def _lsh_est_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_lsh_pairs`` before presentation ordering (compute path;
    also the est half of the materialized pair table)."""
    wide = relation(spark, "minhash_sigwide", sf_dir)
    return _lsh_est_for(wide, _lsh_candidates(wide))


def _lsh_est_for(wide: DataFrame, cand: DataFrame) -> DataFrame:
    """est_jaccard decoration for an arbitrary candidate-pair relation
    against a wide signature relation (shared with the delta path, which
    decorates only the NEW batch-involved pairs against the merged
    signatures)."""
    sig_arr = wide.select("doc_id", F.array(
        *[f"h{s}" for s in range(N_HASHES)]).alias("sig"))
    sa = sig_arr.select(F.col("doc_id").alias("doc_a"),
                        F.col("sig").alias("sig_a"))
    sb = sig_arr.select(F.col("doc_id").alias("doc_b"),
                        F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1.0).otherwise(0.0)),
        F.lit(0.0), lambda acc, v: acc + v)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    F.round(agree / F.lit(float(N_HASHES)), 4)
                    .alias("est_jaccard")))


MINHASH_LSH_SQL = (r"""
WITH """ + _SHINGLES_CTE + r""",
  seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
  hashed AS (
    SELECT s.doc_id, sd.seed,
           ('0x' || substr(md5(s.shingle || '#' || sd.seed), 1, 15))::BIGINT AS h
    FROM shingles s CROSS JOIN seeds sd),
  sig AS (SELECT doc_id, seed, min(h) AS minhash
          FROM hashed GROUP BY doc_id, seed),
  bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(seed || ':' || minhash, ',' ORDER BY seed || ':' || minhash)) AS band_hash
    FROM sig GROUP BY doc_id, seed // 4),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
GROUP BY c.doc_a, c.doc_b ORDER BY c.doc_a, c.doc_b
""")


# --------------------------------------------------------- n-gram jaccard
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard on the LSH candidate pairs only (the verify
    stage of MinHash dedup): J = |A∩B| / (|A|+|B|−|A∩B|) over distinct
    word-shingle sets.  The cross-product is never materialized — the
    intersection count is a (doc_a, shingle)⋈(doc_b, shingle) join whose
    key includes the shingle, and the candidate set is LSH-pruned.

    With a written pair table (``materialize_dedup_index``) this is a
    pure scan + presentation sort — the verify join ran once at snapshot
    time."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "dedup_pairs", sf_dir)
    if scan is not None:
        # the pair table keeps EVERY LSH candidate (est side); this query
        # returns only pairs with ≥1 shared shingle, so drop the
        # null-verify rows the index's left join preserved
        return (scan.filter(F.col("n_inter").isNotNull())
                .select("doc_a", "doc_b", "n_inter", "jaccard")
                .orderBy("doc_a", "doc_b"))
    return _jaccard_exact_unordered(spark, sf_dir).orderBy("doc_a", "doc_b")


def _jaccard_exact_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ngram_jaccard`` before presentation ordering (compute path; also
    the exact-verify half of the materialized pair table)."""
    sh = _shingles_cached(spark, sf_dir)
    cand = (_lsh_candidates(relation(spark, "minhash_sigwide", sf_dir))
            .localCheckpoint(eager=False))
    return _jaccard_exact_for(cand, sh)


def _jaccard_exact_for(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set verify for an arbitrary candidate-pair relation
    against a shingle relation covering (at least) the candidate docs —
    shared with the delta path, which feeds batch shingles plus the
    candidate-pruned base shingles."""
    # materialize the candidate list once (it is tiny — LSH collisions),
    # then broadcast its doc-id sets to PRUNE the shingle relation before
    # any shuffle: only candidate docs' shingles move.  Without this the
    # (doc_b, shingle) join shuffles the ENTIRE corpus shingle relation —
    # the difference between "collisions × shingles/doc" and "100 TB of
    # shingles" at scale.
    # ONE candidate-doc broadcast subplan, textually identical at all three
    # use sites, so ReuseExchange collapses them into a single broadcast
    # build (3 separate docs_a/docs_b/docs_any broadcasts each cost a
    # driver-side job; at bench scale that was ~40% of this query's wall).
    # Pruning sa/sb with the a∪b superset is harmless — the join with cand
    # restricts each side to its own role.
    docs_any = (cand.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    pruned = sh.join(F.broadcast(docs_any), "doc_id")
    sizes = pruned.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = pruned.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = pruned.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (cand.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    return (inter.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "n_inter",
                    F.round(F.col("n_inter") /
                            (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                            4).alias("jaccard")))


NGRAM_JACCARD_SQL = (r"""
WITH """ + _SHINGLES_CTE + r""",
  seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
  hashed AS (
    SELECT s.doc_id, sd.seed,
           ('0x' || substr(md5(s.shingle || '#' || sd.seed), 1, 15))::BIGINT AS h
    FROM shingles s CROSS JOIN seeds sd),
  sig AS (SELECT doc_id, seed, min(h) AS minhash
          FROM hashed GROUP BY doc_id, seed),
  bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(seed || ':' || minhash, ',' ORDER BY seed || ':' || minhash)) AS band_hash
    FROM sig GROUP BY doc_id, seed // 4),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
  sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
  inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_inter
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b, i.n_inter,
       round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
ORDER BY i.doc_a, i.doc_b
""")


# ---------------------------------------------------------------- simhash
N_SIMHASH_BITS = 16


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-bit simhash: per-token md5-bigint, bit b votes +1/-1, sign → bit.
    One explode + one groupBy(doc_id) — single shuffle, map-side combine.
    With a written fingerprint table (``materialize_dedup_index``) this
    is a scan + presentation sort."""
    return relation(spark, "simhash_fp", sf_dir).orderBy("doc_id")


def _simhash_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash`` before presentation ordering — ``simhash_pairs`` bands
    this relation directly (its bucket join repartitions anyway, so a
    sort here would be a wasted range exchange)."""
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), _NORM, " "), " ")
    t = d.select("doc_id", F.explode(toks).alias("tok"))
    t = t.withColumn("h", _md5_bigint(F.col("tok")))
    votes = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"v{b}")
        for b in range(N_SIMHASH_BITS)
    ]
    g = t.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(N_SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else (fp + bit)
    return g.select("doc_id", fp.cast("bigint").alias("simhash"))


def _simhash_sql() -> str:
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(N_SIMHASH_BITS))
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(N_SIMHASH_BITS))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id
"""


SIMHASH_SQL = _simhash_sql()


# ------------------------------------------------------ simhash pairs
HAMMING_MAX = 3


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3, found with the
    banded pigeonhole trick: split the B-bit fingerprint into 4 bands —
    any pair within Hamming 3 agrees exactly on ≥1 band, so candidates
    come from a self-join keyed on (band_idx, band_bits) and only they
    pay the bit_count verify.  Shuffle ∝ band collisions, never |docs|²
    (the classic scalable simhash search layout)."""
    fp = relation(spark, "simhash_fp", sf_dir)     # (doc_id, simhash)
    band_bits = N_SIMHASH_BITS // 4
    mask = (1 << band_bits) - 1
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("simhash", b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("bits"))
            for b in range(4)])).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.bits") == F.col("b.bits")) &
                      (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= HAMMING_MAX)
            .distinct()
            .orderBy("doc_a", "doc_b"))


SIMHASH_PAIRS_SQL = (r"""
WITH fp AS (""" + _simhash_sql().replace("ORDER BY doc_id", "") + r"""),
bands AS (
  SELECT doc_id, simhash, b AS band,
         (simhash >> (b * """ + str(N_SIMHASH_BITS // 4) + r""")) & """
                     + str((1 << (N_SIMHASH_BITS // 4)) - 1) + r""" AS bits
  FROM fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) u)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= """ + str(HAMMING_MAX) + r"""
ORDER BY doc_a, doc_b
""")


# ------------------------------------------------------- dup clustering
def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) after min-label propagation over the LSH pair edges;
    shared by ``dedup_clusters`` and ``dedup_keep``.

    Without a written pair table this seeds from the raw LSH candidates
    (``_lsh_candidates``), not the est-jaccard pair query: the
    propagation only needs the pair KEYS, so the signature-array joins
    that decorate the pairs with est_jaccard would be dead work."""
    from ..pipeline.snapshot_cache import read_table
    pscan = read_table(spark, "dedup_pairs", sf_dir)
    pairs = (pscan.select("doc_a", "doc_b") if pscan is not None
             else _lsh_candidates(relation(spark, "minhash_sigwide",
                                           sf_dir)))
    return _propagate_min_labels(pairs)


def _propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over an arbitrary (doc_a, doc_b)
    edge relation (shared with the delta path, which re-propagates over
    the MERGED pair table — connected components are corpus-global, so a
    day-2 bridge doc can fuse two day-1 clusters and labels must be
    recomputed from pairs, never appended; the relation iterated is
    ∝ collisions, so the recompute never touches document bytes)."""
    # localCheckpoint (eager) rather than cache: it TRUNCATES lineage, so
    # every loop round plans over the tiny materialized edge relation, not
    # the full LSH DAG that produced it (per-round planning cost would
    # otherwise grow linearly with round number).  The edge list is
    # ∝ collisions — a vanishing fraction of the corpus — so the
    # materialization is cheap at any scale.
    edges = (pairs.union(pairs.select(F.col("doc_b").alias("doc_a"),
                                      F.col("doc_a").alias("doc_b")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("doc_a").alias("node"))
              .distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    while True:
        neigh = (edges.join(labels, edges.doc_b == labels.node)
                 .groupBy(F.col("doc_a").alias("node"))
                 .agg(F.min("label").alias("nmin")))
        # carry the previous label inline so convergence needs no second
        # join against the old relation — one checkpoint job + one cheap
        # count per round.  (A fused two-sweeps-per-checkpoint variant was
        # measured SLOWER here: collision components have tiny diameters,
        # so the doubled per-job plan cost exceeds the rounds saved.)
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
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate pairs → duplicate
    CLUSTERS (canonical = min doc_id of the component) with sizes.

    Algorithm: min-label propagation to fixpoint — each node repeatedly
    takes the minimum label among itself and its neighbors.  Converges in
    O(component diameter) rounds; every round is one keyed shuffle over
    the EDGE list (∝ collisions, never |docs|²), which is the standard
    scalable formulation (the alternating large-star/small-star refinement
    drops in unchanged if diameters grow).  The driver loop carries only a
    changed-count scalar per round — no data ever collects.  Dup pairs are
    a vanishing fraction of a 100 TB corpus, so the iterated relation is
    tiny relative to the scan that produced it."""
    labels = relation(spark, "dedup_labels", sf_dir)
    return (labels.groupBy(F.col("label").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("size"),
                 F.sort_array(F.collect_list("node")).alias("members"))
            .select("cluster_id", "size",
                    F.array_join(F.transform("members",
                                             lambda x: x.cast("string")),
                                 ",").alias("members"))
            .orderBy("cluster_id"))


_CLUSTERS_CTE = (r"""
WITH RECURSIVE """ + _SHINGLES_CTE + r""",
  seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
  hashed AS (
    SELECT s.doc_id, sd.seed,
           ('0x' || substr(md5(s.shingle || '#' || sd.seed), 1, 15))::BIGINT AS h
    FROM shingles s CROSS JOIN seeds sd),
  sig AS (SELECT doc_id, seed, min(h) AS minhash
          FROM hashed GROUP BY doc_id, seed),
  bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(seed || ':' || minhash, ',' ORDER BY seed || ':' || minhash)) AS band_hash
    FROM sig GROUP BY doc_id, seed // 4),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
  edges AS (
    SELECT doc_a, doc_b FROM cand
    UNION SELECT doc_b, doc_a FROM cand),
  reach AS (
    SELECT doc_a AS node, doc_a AS r FROM edges
    UNION
    SELECT e.doc_a AS node, r.r
    FROM reach r JOIN edges e ON e.doc_b = r.node),
  labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)""")

DEDUP_CLUSTERS_SQL = _CLUSTERS_CTE + r"""
SELECT cluster_id, count(*) AS size,
       string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
FROM labels GROUP BY cluster_id ORDER BY cluster_id
"""


def dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the keep/drop decision for EVERY corpus document: each
    doc joins its duplicate-cluster label (left join — non-duplicates form
    singleton clusters of themselves) and survives iff it is the cluster's
    canonical (min doc_id) member.  This is the step a real pipeline
    actually applies after clustering; the join is keyed on doc_id (one
    shuffle bounded by |docs|, and the label side — only docs that hit an
    LSH collision — is a vanishing fraction at 100 TB, so AQE broadcasts
    it)."""
    return dedup_keep_decisions(spark, sf_dir).orderBy("doc_id")


def dedup_keep_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_keep`` before presentation ordering — composition inputs
    (``corpus_keep``/``web_keep``) join this relation; sorting it first
    would add a full range exchange the join immediately re-partitions
    away."""
    labels = relation(spark, "dedup_labels", sf_dir)
    docs = read_documents(spark, sf_dir).select("doc_id")
    lab = labels.select(F.col("node").alias("doc_id"),
                        F.col("label").alias("cl"))
    cluster_id = F.coalesce(F.col("cl"), F.col("doc_id"))
    return (docs.join(lab, "doc_id", "left")
            .select("doc_id", cluster_id.alias("cluster_id"),
                    (F.col("doc_id") == cluster_id).alias("kept")))


DEDUP_KEEP_SQL = _CLUSTERS_CTE + r"""
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(l.cluster_id, d.doc_id) AS kept
FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
ORDER BY d.doc_id
"""


# ------------------------------------------- dedup-index materialization
# The signature job, the LSH+verify pair job, and the connected-components
# job each run ONCE per corpus snapshot at 100 TB (the same contract as
# the curation decision table): signatures ∝ |docs| rows of K longs,
# pairs ∝ LSH collisions, labels ∝ collision-component members.  Nobody
# re-shingles a 10^12-doc corpus per query.  The tables below are those
# jobs' outputs; every dedup query scans them when present and recomputes
# when absent (the driver's oracle run — fresh session, no warehouse —
# still exercises the complete compute path).

def _pairs_index_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per LSH candidate pair carrying BOTH verdict tiers: the
    minhash estimate (all candidates) and the exact shingle-set verify
    (left-joined — null n_inter/jaccard means the candidate shared no
    shingle at all, which ``ngram_jaccard`` excludes by contract)."""
    est = _lsh_est_unordered(spark, sf_dir)
    exact = _jaccard_exact_unordered(spark, sf_dir)
    return est.join(exact, ["doc_a", "doc_b"], "left")


def materialize_dedup_index(spark: SparkSession, sf_dir: str) -> list[str]:
    """Write the dedup index tables for this corpus snapshot
    (idempotent).  Returns the table paths."""
    from ..pipeline.snapshot_cache import BY_NAME
    return BY_NAME["dedup_index"].build(spark, sf_dir)


# --------------------------------------------------- stratified sampling
# per-language keep rates for a training-data mix rebalance (fractions of
# 1000 so the hash bucketing is integer-exact in both engines)
SAMPLE_RATES = {"en": 500, "zh": 800, "de": 300, "fr": 300, "es": 300}
SAMPLE_DEFAULT = 250


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: keep a document when
    ``md5(doc_id:lang) mod 1000`` falls under its language's rate — a
    pure column predicate, embarrassingly parallel, reproducible across
    engines and cluster sizes (no RNG state, no sort).  This is how a
    100 TB training-mix rebalance actually ships: the sample decision
    must be a function of the ROW, not of partition iteration order."""
    d = read_documents(spark, sf_dir).select("doc_id", "lang")
    bucket = F.pmod(_md5_bigint(F.concat_ws(":", "doc_id", "lang")),
                    F.lit(1000))
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v))
          for k, v in sorted(SAMPLE_RATES.items())],
        F.lit(SAMPLE_DEFAULT))
    return (d.withColumn("bucket", bucket)
            .filter(F.col("bucket") < rate)
            .select("doc_id", "lang", F.col("bucket").cast("long")
                    .alias("bucket"))
            .orderBy("doc_id"))


def _stratified_sample_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}"
                     for k, v in sorted(SAMPLE_RATES.items()))
    return rf"""
WITH d AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id || ':' || lang), 1, 15))::BIGINT % 1000
           AS bucket
  FROM documents)
SELECT doc_id, lang, bucket
FROM d
WHERE bucket < CASE lang {whens} ELSE {SAMPLE_DEFAULT} END
ORDER BY doc_id
"""


# ----------------------------------------------- exact substring spans
# The "Deduplicating Training Data Makes Language Models Better" (Lee et
# al. 2022) recipe, re-expressed relationally: every corpus-repeated
# L-token gram marks a hit at its start position, and overlapping /
# adjacent hits merge into MAXIMAL duplicate spans per document
# (gaps-and-islands over the position sequence — the suffix-array scan of
# the paper becomes one lag window per doc).
#
# Scale design: the gram histogram is ONE hash shuffle with map-side
# partial counts (the paper's suffix-array build is replaced by hashing —
# same duplicates found for fixed L, embarrassingly parallel).  The
# dup-gram set joins back on the gram key — shuffle bounded by corpus
# gram count, never |docs|²; at 100 TB the join key would be xxhash64 of
# the gram instead of the string (the string keeps the DuckDB oracle
# byte-comparable here).  The islands window partitions by doc_id —
# bounded per-doc state, no global sort.
SPAN_GRAM = 8


def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """With a written span table (``materialize_dedup_index``) this is a
    scan + presentation sort — the span-marking pass (Lee et al. 2022
    style) runs once per snapshot alongside the rest of the dedup
    index."""
    return relation(spark, "substring_spans", sf_dir) \
        .orderBy("doc_id", "span_start")


def _substring_spans_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    n = SPAN_GRAM
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id", F.split("text", " ").alias("w")))
    grams = (d.filter(F.size("w") >= n)
             .select("doc_id", F.posexplode(F.expr(
                 f"transform(sequence(1, size(w) - {n - 1}),"
                 f" i -> array_join(slice(w, i, {n}), ' '))"))
                 .alias("pos0", "gram"))
             .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram"))
    dup = (grams.groupBy("gram")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .filter(F.col("cnt") > 1)
           .select("gram"))
    hits = grams.join(dup, "gram").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = (hits
               .withColumn("new_island",
                           (F.coalesce(F.col("pos") - F.lag("pos").over(
                               w_doc), F.lit(n + 1)) > n).cast("long"))
               .withColumn("island",
                           F.sum("new_island").over(
                               w_doc.rowsBetween(Window.unboundedPreceding,
                                                 0))))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + n - 1).alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .select("doc_id",
                    F.col("span_start").cast("int").alias("span_start"),
                    F.col("span_end").cast("int").alias("span_end"),
                    (F.col("span_end") - F.col("span_start") + 1)
                    .cast("int").alias("span_tokens"),
                    F.col("n_grams").cast("int").alias("n_grams")))


SUBSTRING_SPANS_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE length(trim(text)) > 0),
g AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(l, i, i + {SPAN_GRAM - 1}), ' ') AS gram
  FROM w, LATERAL (SELECT unnest(generate_series(1,
                     len(l) - {SPAN_GRAM - 1})) AS i) u
  WHERE len(l) >= {SPAN_GRAM}),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos - prev > {SPAN_GRAM}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits))
SELECT doc_id,
       CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + {SPAN_GRAM - 1} AS INTEGER) AS span_end,
       CAST(max(pos) + {SPAN_GRAM - 1} - min(pos) + 1 AS INTEGER)
         AS span_tokens,
       CAST(count(*) AS INTEGER) AS n_grams
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
"""


# ------------------------------------------------- incremental (daily) dedup
#
# The recurring-ingest shape: yesterday's corpus already has its band
# index materialized (write-once, reused every day); only TODAY'S batch is
# shingled and hashed fresh, and the candidate search is a (band,
# band_hash) bucket join of the small batch side against the corpus index
# — shuffle ∝ batch size + collisions, never corpus × batch.  Admission is
# the deterministic signature-agreement vote (≥ 8 of 16 minhashes), so the
# decision needs no second pass over corpus text.
INCR_AGREE_MIN = 8
_INCR_SPLIT = 5  # 1/5 of docs play "today's batch", the rest "corpus"


def _incr_split_expr():
    return _md5_bigint(F.concat(F.lit("42:batch:"),
                                F.col("doc_id").cast("string"))) % _INCR_SPLIT


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per batch doc: is_new + the canonical corpus duplicate (min doc_id
    among corpus docs agreeing on ≥ 8/16 minhashes) + the match count."""
    wide = relation(spark, "minhash_sigwide", sf_dir)
    split = _incr_split_expr()
    batch_w = wide.filter(split == 0)
    corpus_w = wide.filter(split != 0)

    rows_per_band = N_HASHES // N_BANDS
    def bands_of(w, side):
        cols = []
        for b in range(N_BANDS):
            seeds = range(b * rows_per_band, (b + 1) * rows_per_band)
            cols.append(F.md5(F.concat_ws(",", *[
                F.concat_ws(":", F.lit(str(s)), f"h{s}") for s in seeds]))
                .alias(f"bh{b}"))
        stack = ", ".join(f"{b}, bh{b}" for b in range(N_BANDS))
        return (w.select("doc_id", *cols)
                .selectExpr(f"doc_id AS {side}",
                            f"stack({N_BANDS}, {stack}) as (band, band_hash)"))

    cand = (bands_of(batch_w, "batch_id")
            .join(bands_of(corpus_w, "corpus_id"), ["band", "band_hash"])
            .select("batch_id", "corpus_id").distinct())
    sig = lambda w, side: w.select(
        F.col("doc_id").alias(side),
        F.array(*[f"h{s}" for s in range(N_HASHES)]).alias(f"sig_{side}"))
    agree = F.aggregate(
        F.zip_with("sig_batch_id", "sig_corpus_id",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    matches = (cand.join(sig(batch_w, "batch_id"), "batch_id")
               .join(sig(corpus_w, "corpus_id"), "corpus_id")
               .withColumn("n_agree", agree)
               .filter(F.col("n_agree") >= INCR_AGREE_MIN)
               .groupBy("batch_id")
               .agg(F.min("corpus_id").alias("dup_of"),
                    F.count(F.lit(1)).alias("n_matches")))
    batch_ids = (read_documents(spark, sf_dir).filter(_incr_split_expr() == 0)
                 .select("doc_id"))
    return (batch_ids.join(matches.withColumnRenamed("batch_id", "doc_id"),
                           "doc_id", "left")
            .select("doc_id", F.col("dup_of").isNull().alias("is_new"),
                    "dup_of",
                    F.coalesce("n_matches", F.lit(0)).cast("int")
                    .alias("n_matches"))
            .orderBy("doc_id"))


INCREMENTAL_DEDUP_SQL = (r"""
WITH """ + _SHINGLES_CTE + rf""",
  seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
  hashed AS (
    SELECT s.doc_id, sd.seed,
           ('0x' || substr(md5(s.shingle || '#' || sd.seed), 1, 15))::BIGINT AS h
    FROM shingles s CROSS JOIN seeds sd),
  sig AS (SELECT doc_id, seed, min(h) AS minhash
          FROM hashed GROUP BY doc_id, seed),
  tagged AS (
    SELECT doc_id,
           ('0x' || substr(md5('42:batch:' || doc_id), 1, 15))::BIGINT
             % {_INCR_SPLIT} AS grp
    FROM documents),
  bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(seed || ':' || minhash, ','
               ORDER BY seed || ':' || minhash)) AS band_hash
    FROM sig GROUP BY doc_id, seed // 4),
  cand AS (
    SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
    FROM bands a JOIN tagged ta ON ta.doc_id = a.doc_id AND ta.grp = 0
    JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    JOIN tagged tb ON tb.doc_id = b.doc_id AND tb.grp <> 0),
  agree AS (
    SELECT c.batch_id, c.corpus_id,
           sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
             AS n_agree
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.batch_id
    JOIN sig sb ON sb.doc_id = c.corpus_id AND sb.seed = sa.seed
    GROUP BY c.batch_id, c.corpus_id),
  matches AS (
    SELECT batch_id, min(corpus_id) AS dup_of, count(*) AS n_matches
    FROM agree WHERE n_agree >= {INCR_AGREE_MIN}
    GROUP BY batch_id)
SELECT t.doc_id, m.dup_of IS NULL AS is_new, m.dup_of,
       CAST(coalesce(m.n_matches, 0) AS INTEGER) AS n_matches
FROM tagged t LEFT JOIN matches m ON m.batch_id = t.doc_id
WHERE t.grp = 0
ORDER BY t.doc_id
""")


# ------------------------------------------------------ winnowing
_WINNOW_K = 3   # words per k-gram
_WINNOW_W = 4   # winnowing window (k-gram hashes per window)


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word 3-gram, slide a
    window of W=4 consecutive hashes, keep each window's minimum; the
    selected set is the fingerprint sketch with the guarantee that any
    shared run of ≥ K+W-1 words between two documents shares at least one
    fingerprint.  The local-dedup complement to MinHash: MinHash estimates
    global set overlap, winnowing pins shared SUBSTRINGS.

    Everything is per-row higher-order array arithmetic (transform over
    sequence + array_min over slices) — no explode, no window function, no
    shuffle: at 10^12 docs the sketch rides the scan.  Docs shorter than
    K+W-1 words carry no window and are dropped (exact dedup owns them).
    Output per doc: k-gram count, fingerprint count, min fingerprint and
    the xor-fold (the order-insensitive sketch checksum a downstream
    bucket-join would key on)."""
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), _NORM, " "),
                   " ")
    kmin = _WINNOW_K + _WINNOW_W - 1
    h = F.expr(
        "transform(sequence(0, size(toks)-%d), i -> "
        "cast(conv(substring(md5(concat_ws(' ', toks[i], toks[i+1], "
        "toks[i+2])), 1, 15), 16, 10) as bigint))" % _WINNOW_K)
    wins = F.expr(
        "transform(sequence(0, size(h)-%d), j -> "
        "array_min(slice(h, j+1, %d)))" % (_WINNOW_W, _WINNOW_W))
    return (d.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= kmin)
            .select("doc_id", h.alias("h"))
            .select("doc_id", F.size("h").alias("n_kgrams"),
                    F.array_distinct(wins).alias("fps"))
            .select("doc_id", "n_kgrams",
                    F.size("fps").alias("n_fps"),
                    F.array_min("fps").alias("fp_min"),
                    F.expr("aggregate(fps, 0L, (a, x) -> a ^ x)")
                    .alias("fp_xor"))
            .orderBy("doc_id"))


WINNOW_SQL = rf"""
WITH toklists AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
           AS toks
  FROM documents
  WHERE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        >= {_WINNOW_K + _WINNOW_W - 1}),
hashes AS (
  SELECT doc_id,
         list_transform(range(0, len(toks) - {_WINNOW_K - 1}), i ->
           ('0x' || substr(md5(toks[i+1] || ' ' || toks[i+2] || ' ' ||
                               toks[i+3]), 1, 15))::BIGINT) AS h
  FROM toklists),
fps AS (
  SELECT doc_id, len(h) AS n_kgrams,
         list_distinct(list_transform(range(0, len(h) - {_WINNOW_W - 1}),
           j -> list_min(h[j+1:j+{_WINNOW_W}]))) AS f
  FROM hashes)
SELECT doc_id, n_kgrams, len(f) AS n_fps, list_min(f) AS fp_min,
       list_reduce(f, (a, x) -> xor(a, x)) AS fp_xor
FROM fps ORDER BY doc_id
"""


QUERIES = {
    "winnow_fingerprints": (winnow_fingerprints, WINNOW_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "incremental_dedup": (incremental_dedup, INCREMENTAL_DEDUP_SQL),
    "minhash_signatures": (minhash_signatures, MINHASH_SIG_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs, MINHASH_LSH_SQL),
    "ngram_jaccard": (ngram_jaccard, NGRAM_JACCARD_SQL),
    "simhash": (simhash, SIMHASH_SQL),
    "simhash_pairs": (simhash_pairs, SIMHASH_PAIRS_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_keep": (dedup_keep, DEDUP_KEEP_SQL),
    "stratified_sample": (stratified_sample, _stratified_sample_sql()),
    "substring_dedup_spans": (substring_dedup_spans, SUBSTRING_SPANS_SQL),
}
