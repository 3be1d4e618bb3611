"""Deduplication suite over the ``documents`` / ``embeddings`` tables —
the core training-data-pipeline operators (exact dedup, n-gram Jaccard,
MinHash+LSH banding, SimHash, embedding-cosine near-dup).

The reference's only dedup-style op is ``distinct()`` before a self-join
(SURVEY.md §2.2 P6, ``process_collaborative_filtering.py:25``); these queries
generalize it to content-level near-duplicate detection.

Scale design
------------
- Exact dedup (q26): hash-groupBy on md5(text) — one shuffle keyed by the
  content hash; at 100 TB the hash (not the text) is the shuffle key, so
  shuffle volume is O(rows × 32 B).
- Candidate generation is ALWAYS inverted-index / banding — never a cross
  join. q27 joins on shared shingles (with a document-frequency cap so a
  stop-shingle can't create a quadratic hot key — the standard skew guard);
  q28 joins on MinHash band buckets (r=2, b=4: 32-bit band keys, collision
  pairs ~J²-selective); q29 joins on SimHash nibble bands. Each is one
  equi-join shuffle whose key space grows with the corpus, so AQE can split
  skewed buckets.
- q30 embedding near-dup is the brute-force O(n²) *baseline* kept for
  oracle-checkable exactness at test SF; the ANN-at-scale path is the LSH
  variant in plans/similarity.py.

Cross-engine parity: every query is ONE generated SQL text rendered per
dialect (Spark SQL vs DuckDB differ only in list-function names), with
engine-portable md5-derived hashes (operators/text.hash16) — so the DuckDB
oracle pins the exact semantics, including hash values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from music_recommendation_service_spark.functions import rnd_sql
from music_recommendation_service_spark.functions.dialect import DUCK, SPARK, register_sql
from music_recommendation_service_spark.operators.text import hash16_sql
from music_recommendation_service_spark.plans import register


def _shingles(d: dict, col: str = "text", n: int = 3) -> str:
    """Distinct word n-gram shingle list (the near-dup comparison unit)."""
    toks = d["split"](col)
    joined = ", ".join(d["elem"](toks, f"i + {j}") for j in range(n))
    upper = f"greatest({d['len']}({toks}) - {n - 1}, 0)"
    seq = d["seq"](1, upper)
    return f"{d['ldistinct']}({d['lt']}({seq}, i -> concat_ws(' ', {joined})))"


# ---------------------------------------------------------------------------
# q26 — exact deduplication by content hash. The corpus is the documents
# table plus a deterministic 20% re-injection (doc_id%5==0 shifted by 1e6),
# so known duplicate groups exist at every SF.
# ---------------------------------------------------------------------------
def _q26(d: dict) -> str:
    return """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT md5(text)                    AS content_hash,
           CAST(min(doc_id) AS BIGINT)  AS keep_doc_id,
           CAST(count(*) AS BIGINT)     AS n_copies
    FROM corpus
    GROUP BY md5(text)
    """


register_sql(
    "q26_exact_dedup",
    _q26,
    ("documents",),
    doc="Exact dedup: hash-groupBy on md5(text), keep min doc_id per group.",
    tags=("dedup", "exact"),
)


# ---------------------------------------------------------------------------
# q27 — n-gram Jaccard near-dup pairs via inverted shingle index (no cross
# join): explode distinct shingles -> self-join on shingle -> per-pair shared
# count -> Jaccard = shared / (|A|+|B|-shared). Shingles with document
# frequency > 100 are dropped from candidate generation (skew guard).
# ---------------------------------------------------------------------------
def _q27_sh(d: dict, src: str = "documents") -> str:
    """The exploded shingle inverted index (doc_id, shingle). ``src`` lets
    the Spark build substitute a parallelism-spread copy of the corpus (the
    oracle keeps the plain table — identical rows either way)."""
    return f"SELECT doc_id, {d['explode'](_shingles(d), 's')} FROM {src}"


def _q27(
    d: dict,
    sh_src: str | None = None,
    probe_src: str | None = None,
    sizes_src: str | None = None,
) -> str:
    """``sh_src`` substitutes a pre-materialized shingle relation; default
    inlines it as a CTE (the oracle form). ``probe_src`` (Spark build only)
    substitutes a parallelism-spread copy for the self-join's PROBE side:
    the scratch parquet lands as 1-2 small files, so the pair-explode stage
    (260k index rows -> 1.1M candidate rows at sf0.1, two broadcast hash
    joins) otherwise runs nearly single-threaded — per-row cost, not input
    bytes, should size that stage (guide §2.5/§2.6). ``sizes_src`` (Spark
    build only) substitutes a pre-aggregated per-doc size table: the sizes
    CTE is joined twice, and Spark's CTE inlining would otherwise execute
    the scan+aggregate subtree once per join side. Same rows either way."""
    sh_cte = f"sh AS (\n        {_q27_sh(d)}\n    ),\n    " if sh_src is None else ""
    sh = "sh" if sh_src is None else sh_src
    probe = probe_src or sh
    sizes_body = (
        f"SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {sh} GROUP BY doc_id"
        if sizes_src is None
        else f"SELECT doc_id, n FROM {sizes_src}"
    )
    return f"""
    WITH {sh_cte}sizes AS (
        {sizes_body}
    ),
    common AS (
        SELECT s FROM {sh} GROUP BY s HAVING count(*) <= 100
    ),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared
        FROM {probe} a
        JOIN common c ON a.s = c.s
        JOIN {sh} b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2, shared,
           {rnd_sql("shared * 1.0 / (s1.n + s2.n - shared)", 6)} AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.1
    """


# The sh relation is consumed FOUR times (sizes, common, both self-join
# sides), so Spark's side materializes it once to scratch parquet (measured
# at sf0.1: 85s -> 17s). persist() instead is a NET LOSS (hides stats from
# AQE; the shingle self-join degrades to un-adaptive sort-merge) — the
# parquet round-trip keeps real file stats, the same pattern as landing a
# silver table on the lake at 100 TB. The oracle keeps the inline CTE form,
# pinning identical semantics.
def _q27_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import (
        load_table,
        spread_if_narrow,
    )
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    # The CPU of the whole index build is the per-document shingle pipeline
    # (split -> n-gram transform -> array_distinct -> explode). A test-SF
    # corpus lands as ONE parquet file => one task runs it single-threaded
    # (measured: the explode alone drops 3.6-6.8s -> 0.5-1.2s interleaved
    # at sf0.1 once spread across cores; no-op at scale where the scan is
    # already parallel — see spread_if_narrow). The REBALANCE before the
    # write lets AQE size the scratch files by bytes (guide §6.2): without
    # it the per-core compute lands one tiny file per core whose open cost
    # the four warm consumers then pay every run (measured +0.2-0.4s warm).
    spread_if_narrow(docs).createOrReplaceTempView("q27_docs")
    sh = scratch_materialize(
        spark.sql(_q27_sh(SPARK, src="q27_docs")).hint("rebalance"),
        "q27_shingles",
    )
    sh.createOrReplaceTempView("q27_sh_mat")
    # Probe side of the pair self-join: hash-repartitioned on the join key
    # ``s`` at the session's configured shuffle parallelism (explicit count
    # — AQE must not byte-coalesce it: the pair-explode stage is per-ROW
    # expensive, not per-byte, and measured at sf1 AQE coalesced its 14 MB
    # input to 10 tasks, 44s of CPU on a 32-core box; the same guard
    # q131/q135 use for their verification stages). Partitioning BY THE
    # JOIN KEY is never a wasted exchange: if the planner shuffles the
    # pair join the exchange is reused as-is, and if it broadcasts, the
    # exchange is what gives the explode stage its width. The other three
    # consumers (sizes, common, build side b) keep the plain scan. Left to
    # AQE, on 4 cores at sf0.1 q27 warm went 2.58/2.85 -> 3.69/2.94 s
    # (AB_pr9_sizing.json).
    sh.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "s"
    ).createOrReplaceTempView("q27_sh_rep")
    # Per-doc shingle counts, aggregated ONCE: the sizes CTE feeds two join
    # sides, and CTE inlining re-executes the scan+aggregate per side.
    sizes = scratch_materialize(
        spark.sql(
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n "
            "FROM q27_sh_mat GROUP BY doc_id"
        ),
        "q27_sizes",
    )
    sizes.createOrReplaceTempView("q27_sizes_mat")
    return spark.sql(
        _q27(
            SPARK,
            sh_src="q27_sh_mat",
            probe_src="q27_sh_rep",
            sizes_src="q27_sizes_mat",
        )
    )


register(
    "q27_ngram_jaccard_neardup",
    oracle=_q27(DUCK),
    doc="3-gram shingle Jaccard >= 0.1 near-dup pairs via inverted index "
    "(shingle index scratch-materialized once, consumed four times).",
    bench=True,
    tags=("dedup", "jaccard"),
)(_q27_build)


# ---------------------------------------------------------------------------
# q28 — MinHash + LSH banding. 8 permutations (seeded portable md5 hashes of
# each shingle), signature split into 4 bands of r=2; candidate pairs share a
# band bucket; estimated Jaccard = matching signature positions / 8.
# ---------------------------------------------------------------------------
_K = 8     # minhash permutations
_BANDS = 4  # bands of r = 2


def _q28(d: dict) -> str:
    sig_parts = []
    for j in range(_K):
        seeded = hash16_sql(f"concat('{j}:', s)")
        hashed_list = f"{d['lt']}(sh, s -> {seeded})"
        sig_parts.append(f"{d['lmin'](hashed_list)} AS m{j}")
    sig_cols = ", ".join(sig_parts)
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, m{2 * b} AS v1, m{2 * b + 1} AS v2 FROM sig"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(_K)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_shingles(d)} AS sh FROM documents
    ),
    sig AS (
        SELECT doc_id, {sig_cols} FROM docs
    ),
    bands AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.v1 = y.v1 AND x.v2 = y.v2
                    AND x.doc_id < y.doc_id
    )
    SELECT c.d1, c.d2,
           {rnd_sql(f"({matches}) / {_K}.0", 6)} AS est_jaccard
    FROM cand c
    JOIN sig a ON c.d1 = a.doc_id
    JOIN sig b ON c.d2 = b.doc_id
    """


register_sql(
    "q28_minhash_lsh",
    _q28,
    ("documents",),
    doc="MinHash (k=8) + LSH banding (b=4, r=2) candidate near-dup pairs "
    "with estimated Jaccard.",
    tags=("dedup", "minhash", "lsh"),
)


# ---------------------------------------------------------------------------
# q29 — SimHash near-dup: 16-bit simhash over hashed shingles (per-bit
# majority vote), candidates via 4-bit nibble banding, kept when Hamming
# distance <= 2.
# ---------------------------------------------------------------------------
_SIMBITS = 16


def _q29(d: dict) -> str:
    bit_terms = " + ".join(
        d["shl"](
            f"(CASE WHEN 2 * {d['len']}({d['lf']}(hl, h -> ({d['shr']('h', b)} & 1) = 1))"
            f" > {d['len']}(hl) THEN 1 ELSE 0 END)",
            b,
        )
        for b in range(_SIMBITS)
    )
    nibble_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {i} AS band, ({d['shr']('sim', 4 * i)} & 15) AS v FROM sig"
        for i in range(4)
    )
    ham = f"bit_count({d['xor']('CAST(a.sim AS INT)', 'CAST(b.sim AS INT)')})"
    return f"""
    WITH hashed AS (
        SELECT doc_id,
               {d['lt']}({_shingles(d)}, s -> {hash16_sql('s')}) AS hl
        FROM documents
    ),
    sig AS (
        SELECT doc_id, ({bit_terms}) AS sim FROM hashed
    ),
    bands AS (
{nibble_rows}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
    )
    SELECT c.d1, c.d2,
           CAST(a.sim AS INT)  AS simhash1,
           CAST(b.sim AS INT)  AS simhash2,
           CAST({ham} AS INT)  AS hamming
    FROM cand c
    JOIN sig a ON c.d1 = a.doc_id
    JOIN sig b ON c.d2 = b.doc_id
    WHERE {ham} <= 2
    """


register_sql(
    "q29_simhash_neardup",
    _q29,
    ("documents",),
    doc="16-bit shingle SimHash, nibble-banded candidates, Hamming <= 2.",
    tags=("dedup", "simhash"),
)


# ---------------------------------------------------------------------------
# q30 — embedding-cosine near-dup pairs (brute-force baseline; the banded
# ANN scale path is plans/similarity.py). Pairs with cosine >= 0.4.
# ---------------------------------------------------------------------------
def _q30(d: dict) -> str:
    dot = d["dot"]("a.v", "b.v")
    cos = f"({dot}) / (a.nrm * b.nrm)"
    return f"""
    WITH e AS (
        SELECT vec_id, {d['dblarr']('embedding')} AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, sqrt({d['dot']('v', 'v')}) AS nrm FROM e
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           {rnd_sql(cos, 6)} AS cosine
    FROM n a
    JOIN n b ON a.vec_id < b.vec_id
    WHERE {cos} >= 0.4
    """


register_sql(
    "q30_embedding_neardup",
    _q30,
    ("embeddings",),
    doc="Embedding cosine >= 0.4 near-dup pairs (exact brute-force baseline).",
    tags=("dedup", "embedding"),
)


# ---------------------------------------------------------------------------
# q48 — dedup cluster formation: connected components over the q27 near-dup
# graph (Jaccard >= 0.1), via iterative min-label propagation
# (operators/components.py). Oracle: DuckDB WITH RECURSIVE reachability —
# an independent formulation of the same fixpoint.
# ---------------------------------------------------------------------------
def _q48_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_q27(DUCK)}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2, d1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
        SELECT node, node AS lab FROM nodes
        UNION
        SELECT e.b AS node, reach.lab FROM reach JOIN edges e ON reach.node = e.a
    )
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """


def _q48_build(spark, sf_dir):
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.operators.components import (
        connected_components,
    )
    from music_recommendation_service_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pairs = spark.sql(_q27(SPARK))
    return connected_components(pairs, src="d1", dst="d2").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def _register_q48():
    from music_recommendation_service_spark.plans import register

    register(
        "q48_dedup_clusters",
        oracle=_q48_oracle(),
        doc="Near-dup clusters: connected components (min-label propagation) "
        "over the Jaccard >= 0.1 pair graph; oracle via recursive CTE.",
        tags=("dedup", "components", "iterative"),
    )(_q48_build)


_register_q48()


# ---------------------------------------------------------------------------
# q98 — EXACT-SUBSTRING duplication detection (the "exact substring dedup"
# signal of LLM training-data pipelines: memorization-prone passages are
# character spans repeated verbatim ACROSS documents, which document-level
# near-dup metrics miss entirely).
#
# Every L-char window of every document is fingerprinted and grouped; a
# fingerprint seen in >= 2 distinct documents is a duplicated passage.
# Suffix-array implementations find maximal repeats; the fixed-L windowed
# formulation is the shuffle-friendly equivalent (a repeat of length
# >= L is detected by every one of its L-windows, so recall for passages
# >= L is exact) and is what a Spark pipeline would run at scale.
#
# Scale design: the explode is a narrow map (no shuffle); the GROUP BY key
# is the 16-bit-capped engine-portable hash of the window plus the window
# TEXT itself to make collisions harmless (hash routes the shuffle, the
# gram disambiguates inside a group at zero extra passes — at 100 TB you'd
# widen the fingerprint to 64/128 bits and drop the raw gram from the
# shuffle entirely, trading a ~1e-19 collision rate for L× less shuffle
# volume; the semantics are otherwise identical). The corpus re-injects
# the q26 20% duplicate set so repeated passages exist at every SF.
# ---------------------------------------------------------------------------
_SUBSTR_L = 24


def _q98(d: dict) -> str:
    n_windows = f"greatest(length(text) - {_SUBSTR_L - 1}, 0)"
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ),
    windows AS (
        SELECT doc_id,
               {d['explode'](d['seq']('1', n_windows), 'i')},
               text
        FROM corpus
    ),
    grams AS (
        SELECT doc_id,
               substring(text, i, {_SUBSTR_L}) AS gram,
               {hash16_sql(f"substring(text, i, {_SUBSTR_L})")} AS fp
        FROM windows
    )
    SELECT CAST(fp AS BIGINT)                   AS fingerprint,
           gram,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS n_occurrences
    FROM grams
    GROUP BY fp, gram
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_occurrences DESC, n_docs DESC, gram
    LIMIT 100
    """


register_sql(
    "q98_substring_dupes",
    _q98,
    ("documents",),
    doc=f"Exact {_SUBSTR_L}-char substring duplication across documents "
    "(fingerprint-grouped windows; top repeated passages).",
    tags=("dedup", "substring", "llm-pipeline"),
)


# ---------------------------------------------------------------------------
# q111 — CONTAINMENT near-dup detection (asymmetric): C(A in B) =
# |shingles(A) /\ shingles(B)| / |shingles(A)|. Jaccard (q27) misses the
# small-document-quoted-inside-big-document case (the intersection is tiny
# relative to the union); containment is the standard complement used by
# RefinedWeb/Gopher-style pipelines to catch quotes, boilerplate inclusion
# and prefix/suffix republication. The corpus injects known containment
# structure at every SF: for doc_id % 7 == 0 the first-12-token prefix is
# re-ingested as its own short document (doc_id + 2000000), so prefix->parent
# pairs with containment 1.0 exist by construction.
#
# Semantics note: both the shared count and the denominator |A| range over
# INFORMATIVE shingles only (document frequency <= 100) — the same skew
# guard as q27, applied consistently to numerator and denominator so the
# ratio stays exact over the indexed shingle space (a stop-shingle can
# neither create a quadratic hot key nor dilute the score).
#
# Scale design: candidate generation is the inverted shingle index self-join
# (equi-join on shingle, never a cross join); the undirected pair relation
# is computed ONCE (d1 < d2) and both directed containments derive from it
# by a UNION ALL of two projections — halving the heavy join relative to a
# directed formulation. Spark's side scratch-materializes the index (three
# consumers); the oracle keeps the inline CTE, pinning identical semantics.
# ---------------------------------------------------------------------------
_CONTAIN_TAU = 0.8
_PREFIX_TOKENS = 12


def _q111_prefix(d: dict) -> str:
    toks = d["split"]("text")
    sliced = (
        f"list_slice({toks}, 1, {_PREFIX_TOKENS})"
        if d["name"] == "duck"
        else f"slice({toks}, 1, {_PREFIX_TOKENS})"
    )
    joiner = "array_to_string" if d["name"] == "duck" else "array_join"
    return f"{joiner}({sliced}, ' ')"


def _q111_ish(d: dict) -> str:
    """The DF-capped (informative) inverted shingle index over the corpus."""
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, {_q111_prefix(d)} AS text
        FROM documents WHERE doc_id % 7 = 0
    ),
    sh AS (
        SELECT doc_id, {d['explode'](_shingles(d), 's')} FROM corpus
    ),
    informative AS (
        SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
    )
    SELECT sh.doc_id, sh.s FROM sh JOIN informative i ON sh.s = i.s
    """


def _q111_scored_body(d: dict, ish: str) -> str:
    """sizes -> pairs -> scored over inverted-index relation ``ish`` —
    shared between the inline (oracle) form and the Spark build's
    materialization so the two can never drift."""
    return f"""sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {ish} GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared
        FROM {ish} a
        JOIN {ish} b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT d1, d2, shared, s1.n AS n1, s2.n AS n2
        FROM pairs
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
    )"""


def _q111(
    d: dict, ish_src: str | None = None, scored_src: str | None = None
) -> str:
    if ish_src is None:
        inner = "\n".join(
            "        " + ln.strip()
            for ln in _q111_ish(d).strip().splitlines()
        )
        ish_cte = f"ish AS (\n{inner}\n    ),\n    "
        ish = "ish"
    else:
        ish_cte = ""
        ish = ish_src
    if scored_src is None:
        head = f"    WITH {ish_cte}{_q111_scored_body(d, ish)}\n"
        scored = "scored"
    else:
        head = ""
        scored = scored_src
    return f"""
{head}    SELECT d1 AS src_doc, d2 AS dst_doc, shared, n1 AS n_src,
           {rnd_sql("shared * 1.0 / n1", 6)} AS containment
    FROM {scored} WHERE shared * 1.0 / n1 >= {_CONTAIN_TAU}
    UNION ALL
    SELECT d2 AS src_doc, d1 AS dst_doc, shared, n2 AS n_src,
           {rnd_sql("shared * 1.0 / n2", 6)} AS containment
    FROM {scored} WHERE shared * 1.0 / n2 >= {_CONTAIN_TAU}
    """


# Round-12 optimization: the inline form executed the ENTIRE sizes/pairs/
# scored pipeline TWICE — once per UNION ALL branch (the measured sf0.1
# plan carried the pair-aggregation fan-out join duplicated). The Spark
# build materializes scored ONCE, pre-filtered to rows that can reach
# EITHER branch (each branch's own predicate is a strict subset of the OR,
# and is re-applied over the materialized copy — identical rows either
# way, pinned by the unchanged DuckDB oracle). The scratch copy is
# output-scale, not candidate-scale.
def _q111_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import load_table
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    ish = scratch_materialize(spark.sql(_q111_ish(SPARK)), "q111_ish")
    ish.createOrReplaceTempView("q111_ish_mat")
    sc = scratch_materialize(
        spark.sql(
            f"WITH {_q111_scored_body(SPARK, 'q111_ish_mat')}\n"
            "    SELECT d1, d2, shared, n1, n2 FROM scored\n"
            f"    WHERE shared * 1.0 / n1 >= {_CONTAIN_TAU}\n"
            f"       OR shared * 1.0 / n2 >= {_CONTAIN_TAU}"
        ),
        "q111_scored",
    )
    sc.createOrReplaceTempView("q111_scored_mat")
    return spark.sql(_q111(SPARK, scored_src="q111_scored_mat"))


register(
    "q111_containment_dupes",
    oracle=_q111(DUCK),
    doc=f"Asymmetric containment near-dup pairs (C(A in B) >= {_CONTAIN_TAU} "
    "over DF-capped 3-gram shingles): catches small-doc-quoted-in-big-doc "
    "shapes Jaccard misses; prefix re-ingestion provides known positives.",
    tags=("dedup", "containment", "llm-pipeline"),
)(_q111_build)


# ---------------------------------------------------------------------------
# q131 — EXACT similarity self-join via PREFIX FILTERING (Chaudhuri et al.
# "A Primitive Operator for Similarity Joins", ICDE'06; Bayardo et al.
# "Scaling Up All Pairs Similarity Search", WWW'07). q27/q111 bound their
# inverted-index candidate volume with a document-frequency CAP, which is an
# approximation (pairs whose only shared shingles are stop-shingles are
# missed). Prefix filtering bounds candidates WITHOUT changing semantics:
#
#   Sort each document's shingles by ascending global document frequency
#   (rarest first; shingle text breaks ties — any total order works).
#   For Jaccard >= t, a qualifying pair must share o >= ceil(t * |x|)
#   shingles for EACH member x, so indexing only the first
#   |x| - ceil(t*|x|) + 1 shingles of x is lossless: if prefix(x) and
#   prefix(y) were disjoint, every common shingle would sit in the order-wise
#   suffix of the larger-prefix-max member — at most ceil(t*|x|) - 1 < o
#   slots. Candidates additionally pass the length filter
#   10*min(|x|,|y|) >= 7*max(|x|,|y|) (J <= min/max). Survivors are verified
#   with an exact intersection count over the FULL shingle sets.
#
# All threshold arithmetic is integer-exact: ceil(7n/10) = (7n + 9) DIV 10
# and the final test is 10*shared >= 7*(n1 + n2 - shared), so no float
# rounding can move a boundary pair in either engine.
#
# The corpus injects known positives at every SF: for doc_id % 7 == 0 the
# first ceil(0.9 * tokens) tokens are re-ingested as doc_id + 3000000, a
# ~0.9-Jaccard truncated republication.
#
# Scale design: the extra work vs q27 is one O(vocab) document-frequency
# aggregate and a per-document row_number window (hash-partitioned by
# doc_id). In exchange the candidate equi-join runs over prefixes only —
# measured at sf0.01: 106 candidates vs 15,173 for the full inverted index
# (143x), and at t=0.7 every candidate survives verification (perfect
# filtering on this corpus). The rarest-first order is exactly why: hot
# shingles land in suffixes, so the skew the DF cap guards against never
# reaches the join. At 100 TB the df relation is O(vocab) and broadcastable;
# candidates scale with the number of true near-dups, not with corpus^2.
# ---------------------------------------------------------------------------
def _q131_trunc(d: dict) -> str:
    toks = d["split"]("text")
    k = d["idiv"](f"(9 * {d['len']}({toks}) + 9)", 10)  # ceil(0.9 * |tokens|)
    return d["ljoin"](d["lhead"](toks, k), " ")


def _q131_sh(d: dict) -> str:
    """The exploded distinct-shingle inverted index over the q131 corpus."""
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, {_q131_trunc(d)} AS text
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id, {d['explode'](_shingles(d), 's')} FROM corpus
    """


def _q131_prefix_body(d: dict, sh: str) -> str:
    """The sizes/df/ranked/prefix pipeline over shingle relation ``sh`` —
    shared between the inline (oracle) form and the Spark build's
    materialization so the two can never drift."""
    alpha = d["idiv"]("(7 * n + 9)", 10)  # required overlap ceil(0.7 * n)
    return f"""sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {sh} GROUP BY doc_id
    ),
    df AS (
        SELECT s, count(*) AS dfreq FROM {sh} GROUP BY s
    ),
    ranked AS (
        SELECT h.doc_id, h.s, z.n,
               row_number() OVER (
                   PARTITION BY h.doc_id ORDER BY d.dfreq, h.s
               ) AS rk
        FROM {sh} h
        JOIN df d ON h.s = d.s
        JOIN sizes z ON h.doc_id = z.doc_id
    ),
    prefix AS (
        SELECT doc_id, s, n FROM ranked WHERE rk <= n - ({alpha}) + 1
    )"""


def _q131(
    d: dict,
    sh_src: str | None = None,
    prefix_src: str | None = None,
    cand_repart: bool = False,
    n_part: int | None = None,
) -> str:
    sh_cte = (
        "sh AS (\n        " + _q131_sh(d).strip() + "\n    ),\n    "
        if sh_src is None
        else ""
    )
    sh = "sh" if sh_src is None else sh_src
    if prefix_src is None:
        head = f"{sh_cte}{_q131_prefix_body(d, sh)},\n    "
        prefix = "prefix"
    else:
        # sizes is still needed by the verification tail; the heavy
        # df/ranked/prefix pipeline is substituted by the materialized copy
        head = f"""{sh_cte}sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {sh} GROUP BY doc_id
    ),
    """
        prefix = prefix_src
    # Spark build only (guide §2.5/§2.6): the DISTINCT over candidates is a
    # few hundred thousand TINY rows, so AQE coalesces it to 1-2 partitions
    # — but each row downstream pays an intersection-count verification,
    # so per-row cost, not bytes, should size the stage. The REPARTITION
    # hint re-spreads candidates across spark.sql.shuffle.partitions
    # (one per core) before the verification; hash-partitioning on
    # (d1, d2) lets the one-row-per-group aggregate barrier below reuse
    # the same exchange. The DuckDB oracle text is unchanged.
    # The explicit partition count (the session's shuffle parallelism, one
    # task per core — NOT a constant) keeps AQE from byte-coalescing the
    # tiny candidate rows back to one partition. Left to AQE, on 4 cores
    # at sf0.1 q131 went 13.5/13.6 -> 19.8/17.9 s cold and 2.24/2.61 ->
    # 5.78/4.81 s warm (AB_pr9_sizing.json).
    cand_tail = (
        f"""),
    cand AS (SELECT /*+ REPARTITION({n_part}, d1) */ * FROM cand0
    ),"""
        if cand_repart
        else "),"
    )
    cand_name = "cand0" if cand_repart else "cand"
    if cand_repart:
        # Spark-only verification shape (same rows, pinned by the unchanged
        # DuckDB oracle below): instead of exploding every candidate pair
        # into its shared-shingle rows (cand ⋈ sh ⋈ sh — measured ~39M
        # intermediate rows + a (d1,d2) re-shuffle at sf0.1) and joining
        # sizes back on, collapse each doc's DISTINCT shingles into ONE
        # array row (O(docs) rows, scratch-materialized by the build) and
        # verify per candidate with size(array_intersect(...)) — a
        # map-side set intersection against two O(docs) broadcast array
        # tables. The one-row-per-group max() aggregate is an optimizer
        # barrier: the threshold filter stays ABOVE it, so the intersect
        # is evaluated once per candidate (a pushed-down filter would
        # re-evaluate it in the join condition and the projection), and
        # the agg itself reuses the candidate exchange's (d1, d2)
        # partitioning — no second shuffle.
        arrs = "q131_arrs_mat"
        verify = f"""pairs AS (
        SELECT /*+ BROADCAST(a1), BROADCAST(a2) */
               c.d1, c.d2,
               CAST(size(array_intersect(a1.ss, a2.ss)) AS BIGINT) AS shared,
               a1.n AS n1, a2.n AS n2
        FROM cand c
        JOIN {arrs} a1 ON c.d1 = a1.doc_id
        JOIN {arrs} a2 ON c.d2 = a2.doc_id
    ),
    agg AS (
        SELECT d1, d2, max(shared) AS shared, max(n1) AS n1, max(n2) AS n2
        FROM pairs GROUP BY d1, d2
    )
    SELECT d1, d2, shared,
           {rnd_sql("shared * 1.0 / (n1 + n2 - shared)", 6)} AS jaccard
    FROM agg
    WHERE 10 * shared >= 7 * (n1 + n2 - shared)
    """
    else:
        verify = f"""pairs AS (
        SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS shared
        FROM cand c
        JOIN {sh} x ON x.doc_id = c.d1
        JOIN {sh} y ON y.doc_id = c.d2 AND y.s = x.s
        GROUP BY c.d1, c.d2
    )
    SELECT p.d1, p.d2, p.shared,
           {rnd_sql("p.shared * 1.0 / (s1.n + s2.n - p.shared)", 6)} AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.d1 = s1.doc_id
    JOIN sizes s2 ON p.d2 = s2.doc_id
    WHERE 10 * p.shared >= 7 * (s1.n + s2.n - p.shared)
    """
    return f"""
    WITH {head}{cand_name} AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM {prefix} a
        JOIN {prefix} b ON a.s = b.s AND a.doc_id < b.doc_id
                     AND 10 * least(a.n, b.n) >= 7 * greatest(a.n, b.n)
    {cand_tail}
    {verify}"""


# Like q27, the shingle index feeds many shuffles (sizes, df, the ranked
# join, both verification sides) — Spark's side materializes it once.
# Round-12 optimization: the PREFIX relation (sizes/df joins -> rarest-
# first window -> lossless per-doc prefix) is ALSO materialized — the
# inline form executed that pipeline TWICE (once per candidate-join side);
# the materialized prefix is read twice instead. Exact same rows (parquet
# round-trip of the same CTE), pinned by the unchanged DuckDB oracle.
def _q131_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import load_table
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sh = scratch_materialize(spark.sql(_q131_sh(SPARK)), "q131_shingles")
    sh.createOrReplaceTempView("q131_sh_mat")
    p = scratch_materialize(
        spark.sql(
            f"WITH {_q131_prefix_body(SPARK, 'q131_sh_mat')}\n"
            "    SELECT doc_id, s, n FROM prefix"
        ),
        "q131_prefix",
    )
    # Re-spread the tiny materialized prefix across the session's
    # parallelism so the candidate self-join stage is not bounded by the
    # scratch file count (1-2 files after AQE coalescing at write time).
    # spread_if_narrow, not an unconditional repartition (round-12 advice,
    # applied to q102 in c04efd8): at scale the scratch scan already
    # carries >= defaultParallelism splits and NO shuffle is added.
    from music_recommendation_service_spark.sources.catalog import spread_if_narrow

    spread_if_narrow(p).createOrReplaceTempView("q131_p_rep")
    # Per-doc shingle-set arrays for the map-side verification (see the
    # _q131 Spark tail): O(docs) rows, materialized once so both
    # verification broadcasts build from a 6k-row parquet instead of
    # re-aggregating the 600k-row shingle index per side.
    arrs = scratch_materialize(
        spark.sql(
            "SELECT doc_id, collect_list(s) AS ss, "
            "CAST(count(*) AS BIGINT) AS n "
            "FROM q131_sh_mat GROUP BY doc_id"
        ),
        "q131_arrs",
    )
    arrs.createOrReplaceTempView("q131_arrs_mat")
    return spark.sql(
        _q131(
            SPARK,
            sh_src="q131_sh_mat",
            prefix_src="q131_p_rep",
            cand_repart=True,
            n_part=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    )


register(
    "q131_prefix_filter_simjoin",
    oracle=_q131(DUCK),
    doc="Exact Jaccard >= 0.7 similarity self-join via prefix filtering "
    "(rarest-first ordering, per-doc lossless prefix, length filter, "
    "exact verification) — no DF-cap approximation, candidate volume "
    "bounded by true similarity structure.",
    tags=("dedup", "jaccard", "prefix-filter", "llm-pipeline"),
)(_q131_build)


# ---------------------------------------------------------------------------
# q135 — EXACT bounded edit-distance self-join via Ed-Join prefix filtering
# (Xiao/Wang/Lin, "Ed-Join: an efficient algorithm for similarity joins
# with edit distance constraints", VLDB'08). The fuzzy-match / record-
# linkage primitive the Jaccard family (q27/q111/q131) cannot express:
# token shingles are blind to WITHIN-token typos, which is precisely what
# edit distance <= D catches.
#
# Filter algebra (lossless): one edit destroys at most Q character q-grams
# (the windows overlapping the edited position), so ed(a,b) <= D implies
# b misses at most Q*D distinct gram CONTENTS of a — order contents by
# (global frequency, content) and each string's Q*D + 1 RAREST contents
# form a prefix such that any qualifying pair shares a prefix content
# (disjoint prefixes force two contradictory rank inequalities, the
# Chaudhuri prefix argument). On top of content sharing, the POSITIONAL
# filter: a surviving occurrence shifts by at most D (only indels shift
# text, and there are <= D of them), so the shared content's occurrence-
# position intervals must come within D: a.lo <= b.hi + D AND
# b.lo <= a.hi + D. Both filters together stay lossless: the survivor
# g* found by the count argument passes the interval test by
# construction, and the rank contradiction only needs content-level
# order. Candidates then pass |len(a) - len(b)| <= D and exact
# levenshtein() (built-in on BOTH engines; integer, no rounding hazard).
# Losslessness needs every string to carry >= Q*D + 1 gram contents,
# i.e. length >= Q*(D+1) — asserted in the corpus definition.
#
# The comparison key is the document TITLE (first 40 chars of text): real
# combinatorial entropy, unlike the part-name domain (7-12 chars from a
# ~20-word vocabulary, where most strings are exact duplicates and gram
# filtering is structurally useless — measured 1.03x reduction before
# this domain switch). Known positives at every SF: doc_id % 5 == 0
# re-ingests the title with ONE character dropped at position
# (doc_id % length) + 1 — a deterministic ed=1 typo twin both engines
# derive identically.
#
# Scale design: the df relation is O(distinct grams); the prefix join
# runs over 9 grams per string, never the full gram sets; rarest-first
# ordering keeps hot grams out of most prefixes and the interval filter
# kills same-content-far-position collisions (the failure mode of low-
# entropy text). Measured at sf0.1 (6,000 strings / 18M pairs): 204,289
# candidates — 6.7x under the content-only prefix join (1.37M) and 88x
# under all-pairs; exact levenshtein runs ONCE per survivor (computed in
# a subquery, filtered on the alias).
# ---------------------------------------------------------------------------
_ED_Q = 4     # gram width
_ED_D = 2     # edit-distance threshold
_ED_PXL = _ED_Q * _ED_D + 1   # lossless prefix length
_ED_TLEN = 40  # title = first _ED_TLEN chars of the document text


def _q135_corpus(d: dict) -> str:
    t = f"substr(text, 1, {_ED_TLEN})"
    k = f"(doc_id % length({t}))"
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS id, {t} AS name
    FROM documents WHERE length(text) >= {_ED_Q * (_ED_D + 1)}
    UNION ALL
    SELECT CAST(doc_id + 3000000 AS BIGINT) AS id,
           concat(substr({t}, 1, {k}), substr({t}, {k} + 2)) AS name
    FROM documents
    WHERE doc_id % 5 = 0 AND length(text) >= {_ED_Q * (_ED_D + 1) + 1}
    """


def _q135_g(d: dict) -> str:
    """Positional gram index (id, len, s, lo, hi): per string and gram
    CONTENT, the min/max 1-based window positions."""
    seq = d["seq"]("1", f"greatest(length(name) - {_ED_Q - 1}, 0)")
    return f"""
    WITH corpus AS ({_q135_corpus(d)}),
    g0 AS (
        SELECT id, length(name) AS len, name, {d['explode'](seq, 'i')}
        FROM corpus
    )
    SELECT id, len, substr(name, i, {_ED_Q}) AS s,
           min(i) AS lo, max(i) AS hi
    FROM g0
    GROUP BY id, len, substr(name, i, {_ED_Q})
    """


def _q135_prefix_body(d: dict, g: str) -> str:
    """The df -> ranked -> prefix pipeline over gram relation ``g`` —
    shared between the inline (oracle) form and the Spark build's
    materialization so the two can never drift."""
    return f"""df AS (
        SELECT s, count(*) AS dfreq FROM {g} GROUP BY s
    ),
    ranked AS (
        SELECT x.id, x.len, x.s, x.lo, x.hi,
               row_number() OVER (
                   PARTITION BY x.id ORDER BY d.dfreq, x.s
               ) AS rk
        FROM {g} x
        JOIN df d ON x.s = d.s
    ),
    prefix AS (
        SELECT id, len, s, lo, hi FROM ranked WHERE rk <= {_ED_PXL}
    )"""


def _q135(
    d: dict,
    g_src: str | None = None,
    prefix_src: str | None = None,
    cand_repart: bool = False,
    n_part: int | None = None,
) -> str:
    g_cte = (
        "g AS (\n        " + _q135_g(d).strip() + "\n    ),\n    "
        if g_src is None
        else ""
    )
    g = "g" if g_src is None else g_src
    if prefix_src is None:
        prefix_cte = f"{_q135_prefix_body(d, g)},\n    "
        prefix = "prefix"
    else:
        g_cte = ""  # the grams are already folded into the prefix relation
        prefix_cte = ""
        prefix = prefix_src
    # Spark build only: candidates are tiny rows with an expensive
    # levenshtein verification each — AQE's byte-based coalescing collapses
    # them to 1-2 partitions, so re-spread before the verification joins
    # (same rationale as _q131; oracle text unchanged).
    # Explicit count (the session's shuffle parallelism) so AQE cannot
    # byte-coalesce the tiny candidate rows back to one partition —
    # per-row verification cost, not bytes, sizes this stage. Left to AQE,
    # on 4 cores at sf0.1 q135 went 5.0/6.0 -> 6.9/6.2 s cold and
    # 1.47/1.60 -> 2.20/1.72 s warm (AB_pr9_sizing.json).
    cand_tail = (
        f"""),
    cand AS (SELECT /*+ REPARTITION({n_part}, id1) */ * FROM cand0
    )"""
        if cand_repart
        else ")"
    )
    cand_name = "cand0" if cand_repart else "cand"
    return f"""
    WITH {g_cte}corpus AS ({_q135_corpus(d)}),
    {prefix_cte}{cand_name} AS (
        SELECT DISTINCT a.id AS id1, b.id AS id2
        FROM {prefix} a
        JOIN {prefix} b ON a.s = b.s AND a.id < b.id
                     AND abs(a.len - b.len) <= {_ED_D}
                     AND a.lo <= b.hi + {_ED_D} AND b.lo <= a.hi + {_ED_D}
    {cand_tail}
    SELECT id1, id2, dist FROM (
        SELECT c.id1, c.id2,
               CAST({_q135_lev(d)} AS INT) AS dist
        FROM cand c
        JOIN corpus x ON x.id = c.id1
        JOIN corpus y ON y.id = c.id2
    ) v WHERE {_q135_lev_pred(d)}
    """


def _q135_lev(d: dict) -> str:
    """Per-pair verification distance. Spark >= 3.5 exposes the BANDED
    levenshtein(s1, s2, threshold) (SPARK-44012): O(len * D) cells instead
    of O(len^2), returning the exact distance when <= threshold and -1
    past it — identical survivors and identical dist values on them, at
    ~8x less DP work per candidate for 40-char titles and D=2 (the
    verification stage is the sf1 profile's single biggest CPU block:
    266s across 32 tasks). DuckDB keeps the plain 2-arg form, so the
    oracle text is unchanged and pins the equivalence."""
    if d["name"] == "spark":
        return f"levenshtein(x.name, y.name, {_ED_D})"
    return "levenshtein(x.name, y.name)"


def _q135_lev_pred(d: dict) -> str:
    # The banded form marks above-threshold pairs with -1, which a plain
    # <= D filter would admit; survivors carry their exact distance.
    if d["name"] == "spark":
        return f"dist >= 0 AND dist <= {_ED_D}"
    return f"dist <= {_ED_D}"


# The gram index feeds the df aggregate AND the ranked join — Spark's side
# materializes it once (the q27/q131 scratch discipline). Round-12
# optimization: the PREFIX relation (df -> rarest-first window -> top
# _ED_PXL rows per string) is ALSO materialized — the inline form executed
# that whole pipeline TWICE (once per self-join side: 2 windows, 2 df
# aggregates, 2 exchanges in the measured sf0.1 plan); the materialized
# prefix is read twice instead, and the warm path starts directly at the
# candidate join. Exact same rows either way (a parquet round-trip of the
# same CTE), which the unchanged DuckDB oracle pins.
def _q135_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import load_table
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    g = scratch_materialize(spark.sql(_q135_g(SPARK)), "q135_grams")
    g.createOrReplaceTempView("q135_g_mat")
    p = scratch_materialize(
        spark.sql(
            f"WITH {_q135_prefix_body(SPARK, 'q135_g_mat')}\n"
            "    SELECT id, len, s, lo, hi FROM prefix"
        ),
        "q135_prefix",
    )
    # Same re-spread as _q131_build: the candidate self-join stage should
    # run at session parallelism, not at the scratch file count — and like
    # q131/q102 the spread is conditional (spread_if_narrow): no shuffle is
    # added when the scratch scan is already as wide as the session.
    from music_recommendation_service_spark.sources.catalog import spread_if_narrow

    spread_if_narrow(p).createOrReplaceTempView("q135_p_rep")
    return spark.sql(
        _q135(
            SPARK,
            prefix_src="q135_p_rep",
            cand_repart=True,
            n_part=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    )


register(
    "q135_edit_distance_join",
    oracle=_q135(DUCK),
    doc=f"Exact edit-distance <= {_ED_D} self-join over document titles "
    "via Ed-Join prefix filtering: rarest-first character-gram prefixes "
    f"(length {_ED_PXL}), positional interval filter, length filter, "
    "exact levenshtein verification — the record-linkage / typo-twin "
    "primitive token-shingle Jaccard misses (88x under all-pairs at "
    "sf0.1).",
    tags=("dedup", "edit-distance", "prefix-filter", "llm-pipeline"),
)(_q135_build)
