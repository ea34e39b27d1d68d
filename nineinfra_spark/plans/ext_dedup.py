"""[EXT] Deduplication operators over the ``documents`` table.

The core LLM-data-pipeline surface (SURVEY.md §2.10 [EXT]): exact
dedup, exact n-gram-Jaccard near-dup pairs, banded MinHash-LSH
near-dup detection, and SimHash fingerprints. The reference delegates
all data processing to the engine it provisions
(``internal/controller/kyuubi.go:189-203``); these are native.

Every operator here is deterministic end-to-end — including MinHash —
because all hash functions are md5-derived (first 15 hex digits → a
60-bit integer), which both Spark (``conv(substr(md5(x),1,15),16,10)``)
and DuckDB (``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) compute
identically. That makes even the LSH pipeline oracle-checkable by
hash-equality, not just tolerance.

Scale design (the 100 TB posture):

- Exact dedup: hash → groupBy(hash). One shuffle keyed on a uniform
  hash — no skew by construction.
- Near-dup: NEVER all-pairs. Candidate pairs come only from shared
  5-gram shingles (selective: random docs rarely share an exact
  5-token sequence) or shared LSH band buckets
  (``operators/lsh.py:band_pairs``, the one banded self-join every
  LSH query here and in the multimodal/similarity modules uses). The
  self-join is keyed on shingle/bucket, so the shuffle is bounded by
  the posting lists, and a hot shingle (boilerplate) is exactly what
  AQE skew-join splits. For adversarial corpora, add a
  document-frequency cutoff on shingles before the join (drop
  shingles with DF > K) — standard positional-filtering; not needed
  at the tested scale.
- Verification: exact Jaccard via array_intersect on the two docs'
  distinct-shingle arrays — per-candidate-pair work, no re-explosion.
- Thresholding: ``jaccard >= 0.5`` is evaluated as the integer
  predicate ``3*common >= na + nb`` — no float compare, no engine
  divergence. Reported Jaccard is integer-scaled half-up rounding.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.operators.lsh import band_pairs
from nineinfra_spark.plans._util import cpu_spread, t
from nineinfra_spark.plans.ext_text import TOKS_DUCK, TOKS_SPARK
from nineinfra_spark.plans.registry import query

N_PERM = 16  # minhash permutations
N_BANDS = 4  # bands of N_PERM // N_BANDS rows each
ROWS_PER_BAND = N_PERM // N_BANDS

#: distinct 5-gram word shingles from a ``toks`` array column.
#: Spark's sequence(1, n) is DESCENDING for n < 1, hence the CASE guard.
SH_SPARK = (
    "case when size(toks) >= 5 then array_distinct(transform("
    "sequence(1, size(toks) - 4), i -> array_join(slice(toks, i, 5), ' ')))"
    " else array() end"
)
SH_DUCK = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),"
    " i -> array_to_string(toks[i:i+4], ' ')))"
)


def _h_spark(expr: str) -> str:
    """60-bit md5-derived hash of a string expression (Spark SQL)."""
    return f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as long)"


def _h_duck(expr: str) -> str:
    """Same 60-bit hash in DuckDB SQL."""
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct 5-gram shingle array (docs with ≥1 shingle)."""
    docs = cpu_spread(t(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select("doc_id", F.expr(SH_SPARK).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


# -- exact dedup -----------------------------------------------------------


@query(
    "dedup_exact_content",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, md5(array_to_string({TOKS_DUCK}, ' ')) AS content_hash
        FROM documents
    )
    SELECT content_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
    FROM f
    GROUP BY content_hash
    """,
    tags=("ext", "dedup"),
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 over the normalized token stream,
    groupBy(hash) keeping the lowest doc_id as canonical. The shuffle
    key is a uniform hash → perfectly balanced at any scale; the
    map-side partial agg collapses duplicates before the exchange."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5(F.array_join(F.expr(TOKS_SPARK), " ")).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- exact n-gram Jaccard pairs -------------------------------------------

#: integer-exact half-up rounding of common/union to 6 dp.
#: 1e6 (not 1000000.0): Spark SQL parses the latter as a DECIMAL
#: literal, which would turn the division into decimal arithmetic.
#: common/union_sz come from F.size (32-bit int) — cast to bigint
#: BEFORE the 2000000× scale so long shared-shingle lists (>1073)
#: can't silently wrap under non-ANSI arithmetic; DuckDB's len() is
#: already BIGINT, so this keeps both sides exact.
_JAC6_SPARK = (
    "(2000000 * cast(common as bigint) + union_sz)"
    " div (2 * cast(union_sz as bigint)) / 1e6"
)
_JAC6_DUCK = "((2000000 * common + union_sz) // (2 * union_sz)) / 1e6"

#: DuckDB: exact-Jaccard ≥ 0.5 verify of ``cand(doc_a, doc_b)`` against
#: ``sz(doc_id, shingles, n)`` — the tail of every pair oracle below.
_VERIFY_DUCK = f"""ver AS (
        SELECT doc_a, doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS common,
               a.n + b.n - len(list_intersect(a.shingles, b.shingles)) AS union_sz,
               a.n + b.n AS total
        FROM cand
        JOIN sz a ON cand.doc_a = a.doc_id
        JOIN sz b ON cand.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, common, union_sz, {_JAC6_DUCK} AS jaccard
    FROM ver WHERE 3 * common >= total
    """


def _verify_jaccard(cand: DataFrame, sz: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard ≥ 0.5 verify of candidate pairs
    ``cand(doc_a, doc_b)`` against ``sz(doc_id, shingles, n)``: both
    docs' shingle arrays are re-attached and intersected, so the work
    is per candidate pair, with no re-explosion. Returns ``(doc_a,
    doc_b, common, union_sz, jaccard)``."""
    a = sz.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("na"),
    )
    b = sz.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            (F.col("na") + F.col("nb")).alias("total"),
        )
        .filter(3 * F.col("common") >= F.col("total"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            (F.col("total") - F.col("common")).alias("union_sz"),
        )
        .select("doc_a", "doc_b", "common", "union_sz", F.expr(_JAC6_SPARK).alias("jaccard"))
    )


@query(
    "dedup_shingle_jaccard",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (
        SELECT doc_id, {SH_DUCK} AS shingles FROM d
    ),
    sz AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sz),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
    ),
    {_VERIFY_DUCK}""",
    tags=("ext", "dedup", "jaccard"),
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: 5-gram shingle Jaccard ≥ 0.5.

    Candidates are generated ONLY from shared shingles (an inverted-
    index self-join — the sparse exact algorithm), then verified with
    array_intersect on the distinct-shingle arrays. No all-pairs stage
    exists anywhere in the plan; at 100 TB add a shingle-DF cutoff
    before the join to bound posting lists (see module docstring).
    """
    sz = _shingled(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("n")
    )
    # The shingle table feeds three consumers (candidate generation +
    # both verify sides); checkpointing materializes the tokenize/
    # shingle work once instead of 3x. At warehouse scale this is a
    # persisted intermediate table.
    sz = sz.localCheckpoint(eager=False)
    ex = sz.select("doc_id", F.explode("shingles").alias("s"))
    cand = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sz)


# -- banded MinHash LSH ----------------------------------------------------


#: Double-hashing (Kirsch–Mitzenmacher): the k-th minhash permutation
#: is h1 + k*h2 — two md5 evaluations per shingle instead of N_PERM.
#: h2 is truncated to 56 bits so h1 + 15*h2 stays < 2^61 (DuckDB
#: errors on BIGINT overflow; Spark would silently wrap — neither is
#: allowed to happen).
_H2_MOD = 1 << 56

#: Band-key columns of :func:`minhash_bands`, in band order.
MINHASH_BAND_COLS = [f"b{b}" for b in range(N_BANDS)]

#: Set-similarity length filter on band-pair candidates carrying the
#: full shingle count ``n``: common <= min(na, nb), so a pair with
#: 3*min(na, nb) < na + nb can never verify at Jaccard ≥ 0.5. Pruning
#: it in the band join is result-identical.
_LENGTH_OK = "3 * least(n_a, n_b) >= n_a + n_b"


def minhash_bands(ex: DataFrame, *aggs: Column) -> DataFrame:
    """MinHash band keys: ``ex(doc_id, s, ...)``, one row per distinct
    shingle → ``(doc_id, *aggs, b0 .. b{N_BANDS-1})``.

    The N_PERM double-hashed minhashes are one groupBy (mins computed
    map-side); band ``b`` is the md5 of its ROWS_PER_BAND minhashes.
    ``aggs`` ride the same aggregate (e.g. the shingle count for the
    length filter)."""
    sig = ex.select(
        "*",
        F.expr(_h_spark("concat('a:', s)")).alias("h1"),
        (F.expr(_h_spark("concat('b:', s)")) % _H2_MOD).alias("h2"),
    ).groupBy("doc_id").agg(
        *[F.min(F.col("h1") + k * F.col("h2")).alias(f"m{k}") for k in range(N_PERM)],
        *aggs,
    )
    return sig.select(
        "doc_id",
        *sig.columns[1 + N_PERM :],
        *[
            F.md5(
                F.concat_ws(
                    ":", *[F.col(f"m{b * ROWS_PER_BAND + j}") for j in range(ROWS_PER_BAND)]
                )
            ).alias(col)
            for b, col in enumerate(MINHASH_BAND_COLS)
        ],
    )


_EX_DUCK = "ex AS (SELECT doc_id, unnest(shingles) AS s FROM sz)"
_SELF_CAND_DUCK = """
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bb x JOIN bb y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id"""


def _minhash_oracle(
    ex: str = _EX_DUCK, cand: str = _SELF_CAND_DUCK, tail: str = _VERIFY_DUCK
) -> str:
    """DuckDB twin of the MinHash pipeline: shingles → ``ex(doc_id, s)``
    → signatures → band buckets ``bb(doc_id, band_idx, band_key)`` →
    ``cand`` → ``tail``. Written from the hash and shingle constants
    alone, so it checks the Spark path instead of sharing its code."""
    mins = ",\n           ".join(
        f"MIN(h1 + {k} * h2) AS m{k}" for k in range(N_PERM)
    )
    band_cols = ",\n           ".join(
        "md5(concat_ws(':', "
        + ", ".join(f"m{b * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
        + f")) AS b{b}"
        for b in range(N_BANDS)
    )
    band_union = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS band_key FROM bands"
        for b in range(N_BANDS)
    )
    return f"""
    WITH d AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, {SH_DUCK} AS shingles FROM d),
    sz AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    {ex},
    hs AS (
        SELECT doc_id,
               {_h_duck("'a:' || s")} AS h1,
               {_h_duck("'b:' || s")} % {_H2_MOD} AS h2
        FROM ex
    ),
    sig AS (
        SELECT doc_id,
           {mins}
        FROM hs GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
           {band_cols}
        FROM sig
    ),
    bb AS (
        {band_union}
    ),
    cand AS ({cand}
    ),
    {tail}"""


@query("dedup_minhash_pairs", oracle=_minhash_oracle(), tags=("ext", "dedup", "lsh"))
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs (shingle → 16 minhashes →
    4 bands of 4 → bucket self-join → exact-Jaccard verify ≥ 0.5).

    The LSH pipeline itself is deterministic (md5-derived hash
    family), so the oracle replicates it exactly — this row is
    hash-matched, not tolerance-checked; recall vs the exact
    shingle-Jaccard pairs is asserted separately in
    tests/test_ext_pipeline.py.

    Scale: signatures are one explode + one groupBy (16 mins computed
    map-side); candidates come from equality self-join on (band_idx,
    band_key) — shuffle bounded by bucket posting lists, never
    all-pairs; verification touches candidate pairs only. The shingle
    count rides the signature aggregate for free (``ex`` has exactly n
    rows per doc), so the band join applies the length filter and only
    surviving pairs reach the distinct and the verify joins.
    """
    sz = _shingled(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("n")
    )
    # Same three-consumer reuse as dedup_shingle_jaccard (see above).
    sz = sz.localCheckpoint(eager=False)
    ex = sz.select("doc_id", F.explode("shingles").alias("s"))
    bands = minhash_bands(ex, F.count(F.lit(1)).alias("n"))
    # The signature subtree is this query's most expensive stage (see
    # operators/lsh.py on pinning a self-join input).
    bands = bands.localCheckpoint(eager=False)
    cand = band_pairs(
        bands,
        "doc_id",
        MINHASH_BAND_COLS,
        names=("doc_a", "doc_b"),
        carry=["n"],
        keep=F.expr(_LENGTH_OK),
    )
    return _verify_jaccard(cand, sz)


# -- SimHash ---------------------------------------------------------------

N_BITS = 32


def _simhash_oracle() -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(N_BITS)
    )
    recon = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(N_BITS)
    )
    return f"""
    WITH ex AS (
        SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, {_h_duck('tok')} AS h FROM ex),
    bits AS (
        SELECT doc_id,
           {sums}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM bits
    """


@query("dedup_simhash", oracle=_simhash_oracle(), tags=("ext", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash over the (multiplicity-weighted)
    token stream: bit j is the sign of the sum of ±1 contributions
    from each token's hash bit j. Near-dup docs land within small
    Hamming distance; identical docs collide exactly.

    Scale: one explode + one groupBy(doc_id) with 32 integer sums —
    all map-side partials, shuffle carries 32 ints per doc. Pair
    finding at scale uses the standard rotate-and-sort trick over the
    fingerprints (sort by rotated key, compare neighbors) — no
    all-pairs.
    """
    docs = t(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok")).select(
        "doc_id", F.expr(_h_spark("tok")).alias("h")
    )
    bits = ex.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"case when (h >> {j}) & 1 = 1 then 1 else -1 end")).alias(f"s{j}")
            for j in range(N_BITS)
        ]
    )
    recon = reduce(
        lambda acc, j: acc + F.expr(f"case when s{j} > 0 then {1 << j}L else 0L end"),
        range(1, N_BITS),
        F.expr(f"case when s0 > 0 then 1L else 0L end"),
    )
    return bits.select("doc_id", recon.cast("long").alias("simhash"))


# -- connected-component clustering (pairs → clusters) ---------------------


def _cc_oracle() -> str:
    """Recursive-CTE min-label reachability over the exact near-dup
    pair graph: a node's cluster id is the MIN doc_id reachable from
    it (undirected edges in both directions)."""
    pairs_sql = dedup_shingle_jaccard_oracle_pairs()
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    cc AS (
        SELECT doc_id, doc_id AS label FROM nodes
        UNION
        SELECT e.dst AS doc_id, c.label
        FROM cc c JOIN edges e ON c.doc_id = e.src
    ),
    lab AS (SELECT doc_id, MIN(label) AS cluster_id FROM cc GROUP BY doc_id)
    SELECT l.doc_id, l.cluster_id, s.n_members
    FROM lab l
    JOIN (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY cluster_id) s
      USING (cluster_id)
    """


def dedup_shingle_jaccard_oracle_pairs() -> str:
    """The dedup_shingle_jaccard oracle reduced to (doc_a, doc_b) —
    kept in one place so the clustering oracle can embed it."""
    from nineinfra_spark.plans.registry import get

    return get("dedup_shingle_jaccard").oracle


def min_label_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation (the Pregel pattern on DataFrames).

    ``pairs``: two-column DataFrame (a, b), one row per edge.
    Returns ``(doc_id, cluster_id, n_members)`` where cluster_id is
    the component's MIN node id (the canonical survivor).

    Scale posture: each iteration is one equi-join + one groupBy (both
    shuffle on node id, AQE-managed), iterations ≈ graph DIAMETER
    (near-dup clusters are shallow — tiny diameters in practice), and
    ``localCheckpoint`` cuts lineage each round so plans don't
    snowball. The driver loop only checks a convergence flag; all data
    stays distributed. Raises on non-convergence — an unconverged
    fixpoint would return WRONG cluster ids (no silent caps). For
    graphs whose diameter is NOT known to be small, use
    ``operators.components.star_components`` (same contract, O(log n)
    rounds on any shape) — the registered cluster queries run on it."""
    a, b = pairs.columns
    pairs = pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
                (F.coalesce("nmin", "label") < F.col("label")).alias("_chg"),
            )
        ).localCheckpoint()  # eager: cut lineage AND materialize once
        changed = updated.filter("_chg").limit(1).count() > 0
        labels = updated.drop("_chg")
        if not changed:
            converged = True
            break
    if not converged:
        # A diameter > max_iter near-dup graph means chained
        # near-identical items — raise so the caller deliberately
        # bumps the cap (or pre-splits the chain) instead of shipping
        # partial labels.
        raise RuntimeError(
            f"connected-components did not converge in {max_iter} iterations "
            "(graph diameter exceeds cap); raise max_iter for this corpus"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "n_members"
    )


@query("dedup_connected_clusters", oracle=_cc_oracle(), tags=("ext", "dedup", "iterative", "graph"))
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → CLUSTERS: the last step of production dedup. Near-dup
    PAIRS don't dedupe a corpus — transitive groups do (A~B, B~C ⇒
    {A,B,C} keep one). Clustering runs the alternating large-star/
    small-star contraction (``operators/components.py``): O(log n)
    shuffle rounds on ANY graph shape — a pathological near-dup CHAIN
    converges logarithmically where per-diameter min-label propagation
    (:func:`min_label_components`, kept for shallow graphs) would need
    one round per link. The DuckDB oracle computes the same fixpoint
    as a recursive CTE."""
    from nineinfra_spark.operators.components import star_components

    pairs = dedup_shingle_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return star_components(pairs)


# The embedding-modality twin of dedup_connected_clusters lives in
# ext_similarity.py (dedup_embedding_clusters) — it is registered after
# ann_lsh_buckets, whose oracle SQL it embeds.


N_EVAL_DOCS = 10  # doc_id < 10 plays the benchmark/eval set


@query(
    "text_decontaminate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, {SH_DUCK} AS shingles FROM tok),
    eval_sh AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE doc_id < {N_EVAL_DOCS}
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(shingles) AS s FROM sh
            WHERE doc_id >= {N_EVAL_DOCS}
        ) c WHERE c.s IN (SELECT s FROM eval_sh)
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id >= {N_EVAL_DOCS}
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    tags=("ext", "dedup", "decontamination"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares ANY 5-gram shingle with the eval set (doc_id < 10 plays
    the held-out benchmark) — the n-gram overlap removal every serious
    LLM training pipeline runs so test sets don't leak into training
    data.

    Scale posture: the eval set is FIXED-SIZE by construction
    (benchmarks don't grow with the corpus), so its distinct shingle
    set is broadcast and contamination is a broadcast semi-join probed
    at scan speed over the exploded corpus shingles — the corpus is
    never shuffled; the final anti-join keys on doc_id against the
    (small) contaminated list."""
    docs = t(spark, sf_dir, "documents")
    sh = _shingled(spark, sf_dir)
    eval_sh = (
        sh.filter(F.col("doc_id") < N_EVAL_DOCS)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    corpus_sh = sh.filter(F.col("doc_id") >= N_EVAL_DOCS).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    contaminated = (
        corpus_sh.join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") >= N_EVAL_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
    )


def _keep_canonical_oracle() -> str:
    return f"""
    WITH clusters AS ({_cc_oracle()})
    SELECT d.doc_id,
           c.doc_id IS NOT NULL AS had_dupes,
           COALESCE(c.n_members, 1) AS n_merged
    FROM documents d
    LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """


@query(
    "dedup_keep_canonical",
    oracle=_keep_canonical_oracle(),
    tags=("ext", "dedup", "iterative", "graph"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup pipeline: the deduplicated corpus itself.
    Shingle pairs → transitive clusters → keep each cluster's
    canonical representative (min doc_id) plus every unclustered doc;
    ``n_merged`` records how many near-dups each survivor absorbed
    (the provenance count a curation report wants).

    Shape: `dedup_connected_clusters` (bounded pair graph + min-label
    propagation) left-joined back to the corpus — the join is keyed on
    doc_id, and the clusters side is only the docs that HAD a near-dup
    (tiny vs the corpus), so at 100 TB this is a broadcast-size right
    side filtering a scan."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_connected_clusters(spark, sf_dir)
    return (
        docs.join(clusters, "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select(
            "doc_id",
            F.col("cluster_id").isNotNull().alias("had_dupes"),
            F.coalesce("n_members", F.lit(1)).cast("bigint").alias("n_merged"),
        )
    )


#: a shingle is "boilerplate" when it appears in at least this many
#: distinct documents (headers, footers, licence blocks, templates).
BOILER_MIN_DOCS = 2


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, {SH_DUCK} AS shingles FROM tok),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    boiler AS (
        SELECT s FROM ex GROUP BY s
        HAVING COUNT(*) >= {BOILER_MIN_DOCS}
    )
    SELECT doc_id, COUNT(*) AS n_boiler_shingles
    FROM ex WHERE s IN (SELECT s FROM boiler)
    GROUP BY doc_id
    """,
    tags=("ext", "dedup", "boilerplate"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection: 5-gram shingles occurring in
    ≥ BOILER_MIN_DOCS distinct documents (each doc's shingle set is
    already distinct, so the count IS a document count) are template
    text — headers, footers, licence blocks; per affected document,
    how many such shingles it carries. The removal step this feeds is
    the same anti-join shape as `text_decontaminate`, with the
    blocklist coming from the corpus itself instead of an eval set.

    Scale posture: explode → one groupBy keyed on the shingle (the
    canonical inverted-index shuffle, bounded by corpus token count,
    map-side combined); the surviving boilerplate set is frequency-
    truncated and therefore small → AQE broadcasts it back for the
    per-doc count. No all-pairs anywhere."""
    ex = _shingled(spark, sf_dir).select("doc_id", F.explode("shingles").alias("s"))
    boiler = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("s")
    )
    return (
        ex.join(boiler, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler_shingles"))
    )


# -- segment-level (paragraph) dedup --------------------------------------

SEG_SIZE = 8  # tokens per segment (the "paragraph" unit for this corpus)


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
         w AS (
             SELECT doc_id, toks,
                    unnest(generate_series(0, len(toks) - 1, {SEG_SIZE})) AS start
             FROM d WHERE len(toks) > 0
         ),
         seg AS (
             SELECT doc_id,
                    CAST(start // {SEG_SIZE} AS BIGINT) AS seg_idx,
                    array_to_string(toks[start + 1 : start + {SEG_SIZE}], ' ') AS seg_text
             FROM w
         ),
         ranked AS (
             SELECT *,
                    ROW_NUMBER() OVER (
                        PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
                    ) AS rn
             FROM seg
         )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(
               string_agg(seg_text, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1),
               '')) AS kept_hash
    FROM ranked
    GROUP BY doc_id
    """,
    tags=("ext", "dedup", "paragraph"),
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (CCNet-style paragraph) exact dedup: documents are
    cut into non-overlapping SEG_SIZE-token segments; a segment whose
    exact content already occurred earlier in the corpus (first
    occurrence = smallest (doc_id, seg_idx)) is dropped, and each
    document is reassembled from its surviving segments. The output
    carries the md5 of the reassembled text, so the differential gate
    pins the exact surviving byte stream, not just counts. The
    reference reserves data processing to its provisioned engine
    (``internal/controller/kyuubi.go:189-203``); this is native.

    Scale posture: two shuffles, both on uniform keys — one window
    keyed on the segment md5 (the inverted-index shuffle; hot
    boilerplate segments are AQE skew-split territory), one groupBy on
    doc_id for reassembly. No all-pairs, no driver state; at 100 TB
    this is the standard line-dedup pass CCNet runs over Common
    Crawl."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    seg = (
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(f"sequence(0, size(toks) - 1, {SEG_SIZE})")
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / SEG_SIZE).cast("bigint").alias("seg_idx"),
            F.expr(f"array_join(slice(toks, start + 1, {SEG_SIZE}), ' ')").alias(
                "seg_text"
            ),
        )
    )
    w = Window.partitionBy(F.md5("seg_text")).orderBy("doc_id", "seg_idx")
    ranked = seg.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.expr(
                "array_join(transform(filter("
                "sort_array(collect_list(struct(seg_idx, rn, seg_text))),"
                " s -> s.rn = 1), s -> s.seg_text), ' ')"
            )
        ).alias("kept_hash"),
    )


# -- incremental (delta-vs-index) near-dup dedup ---------------------------

_PROBE_CAND_DUCK = """
        SELECT DISTINCT x.doc_id AS delta_id, y.doc_id AS index_id
        FROM bb x JOIN bb y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0"""

_INCREMENTAL_TAIL_DUCK = """ver AS (
        SELECT delta_id,
               CASE WHEN 3 * len(list_intersect(a.shingles, b.shingles))
                         >= a.n + b.n
                    THEN 1 ELSE 0 END AS is_dup
        FROM cand
        JOIN sz a ON cand.delta_id = a.doc_id
        JOIN sz b ON cand.index_id = b.doc_id
    ),
    agg AS (
        SELECT delta_id,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(is_dup) AS BIGINT) AS n_dups
        FROM ver GROUP BY delta_id
    )
    SELECT dl.doc_id,
           COALESCE(n_candidates, 0) AS n_candidates,
           COALESCE(n_dups, 0) AS n_dups,
           CAST(CASE WHEN COALESCE(n_dups, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS survives
    FROM (SELECT doc_id FROM sz WHERE doc_id % 2 = 1) dl
    LEFT JOIN agg ON agg.delta_id = dl.doc_id
    """


@query(
    "dedup_incremental_batch",
    oracle=_minhash_oracle(cand=_PROBE_CAND_DUCK, tail=_INCREMENTAL_TAIL_DUCK),
    tags=("ext", "dedup", "lsh", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup of an arriving batch against the
    already-ingested corpus: the delta (odd doc_ids here) is LSH-
    banded and probed against the index side's (band_idx, band_key)
    signature table (even doc_ids); collisions are verified with
    exact shingle Jaccard ≥ 0.5 against the colliding index docs.
    Each delta doc gets a verdict row — candidate count, verified-dup
    count, and a survives flag.

    Scale posture: THE pattern that keeps dedup affordable on a
    continuously-ingesting 100 TB corpus — the index is touched only
    through its narrow precomputed band-signature table (4 rows ×
    2 columns per indexed doc, maintained incrementally as batches
    commit), never re-shingled; the per-batch cost is proportional to
    the delta, not the corpus. The probe is an equi-join on
    (band_idx, band_key) — with a small delta, AQE broadcasts the
    delta's bands against the index signature scan; verification
    fetches only the colliding index docs' shingle arrays.
    """
    sz = _shingled(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("n")
    )
    sz = sz.localCheckpoint(eager=False)
    bands = minhash_bands(sz.select("doc_id", F.explode("shingles").alias("s")))
    cand = band_pairs(
        bands.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        MINHASH_BAND_COLS,
        names=("delta_id", "index_id"),
        probe=bands.filter(F.col("doc_id") % 2 == 0),
    )
    a = sz.select(
        F.col("doc_id").alias("delta_id"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("na"),
    )
    b = sz.select(
        F.col("doc_id").alias("index_id"),
        F.col("shingles").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    agg = (
        cand.join(a, "delta_id")
        .join(b, "index_id")
        .select(
            "delta_id",
            F.when(
                3 * F.size(F.array_intersect("sh_a", "sh_b"))
                >= F.col("na") + F.col("nb"),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
        )
        .groupBy("delta_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("is_dup").alias("n_dups"),
        )
    )
    delta = sz.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return delta.join(
        agg, delta.doc_id == agg.delta_id, "left"
    ).select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
        F.when(F.coalesce("n_dups", F.lit(0)) == 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("survives"),
    )


# -- DF-capped MinHash (the adversarial-corpus hardening) ------------------

DF_CAP = 20  # drop shingles occurring in more than this many docs


@query(
    "dedup_minhash_df_capped",
    oracle=_minhash_oracle(
        ex=f"""ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sz),
    df AS (SELECT s, COUNT(*) AS nd FROM ex0 GROUP BY s),
    ex AS (
        SELECT ex0.doc_id, ex0.s FROM ex0
        JOIN df ON ex0.s = df.s WHERE df.nd <= {DF_CAP}
    )"""
    ),
    tags=("ext", "dedup", "lsh", "df-cap"),
)
def dedup_minhash_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adversarial-corpus hardening this module's docstring
    promises: MinHash-LSH with a DOCUMENT-FREQUENCY CUTOFF — shingles
    occurring in more than DF_CAP documents (boilerplate, templates,
    licence blocks) are dropped BEFORE signatures are computed, which
    bounds every LSH posting list and therefore the worst-case bucket
    self-join. Signatures are minhashed over the surviving shingles
    only; verification still uses the FULL shingle sets, so any pair
    the capped index surfaces carries its true Jaccard.

    On an adversarial corpus (every doc sharing one template
    paragraph) the uncapped self-join degenerates toward all-pairs;
    with the cap it cannot — the posting-list bound is DF_CAP by
    construction, pytest-pinned alongside a recall floor vs the
    uncapped pair relation (tests/test_ext_pipeline.py)."""
    sz = _shingled(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("n")
    )
    sz = sz.localCheckpoint(eager=False)
    # The length filter must bound against the FULL shingle count (the
    # verify uses uncapped sets), not the capped survivor count, so n
    # rides the per-shingle rows through the DF-cap semi-join and the
    # signature aggregate (max(n) is exact: n is a function of doc_id).
    ex0 = sz.select("doc_id", "n", F.explode("shingles").alias("s"))
    keep = (
        ex0.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= DF_CAP)
        .select("s")
    )
    bands = minhash_bands(ex0.join(keep, "s", "left_semi"), F.max("n").alias("n"))
    bands = bands.localCheckpoint(eager=False)  # as in dedup_minhash_pairs
    cand = band_pairs(
        bands,
        "doc_id",
        MINHASH_BAND_COLS,
        names=("doc_a", "doc_b"),
        carry=["n"],
        keep=F.expr(_LENGTH_OK),
    )
    return _verify_jaccard(cand, sz)


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, {SH_DUCK} AS shingles FROM d),
    sz AS (SELECT doc_id, shingles, len(shingles) AS n
           FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sz),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
    ),
    ver AS (
        SELECT doc_a, doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS common,
               least(a.n, b.n) AS n_small
        FROM cand
        JOIN sz a ON cand.doc_a = a.doc_id
        JOIN sz b ON cand.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, common, n_small,
           CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE) AS containment
    FROM ver WHERE 5 * common >= 3 * n_small
    """,
    tags=("ext", "dedup", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) ≥ 0.6 over 5-gram shingles — the asymmetric
    relation Jaccard structurally misses. A short document quoted
    whole inside a long one has tiny Jaccard (the union is dominated
    by the long doc) but containment ≈ 1; corpus curation needs this
    second lens to catch excerpt/quotation/doc-inside-doc duplication
    that symmetric similarity lets through (cf. the containment
    variant of MinHash sketching, Broder 1997).

    Plan shape is identical to `dedup_shingle_jaccard` (shared-shingle
    inverted-index candidates → exact array_intersect verify; the
    threshold gates by CROSS-MULTIPLIED integers `5·common ≥
    3·min(na,nb)` so no float boundary exists), and the same
    DF-cutoff hardening applies at 100 TB. The score column is a
    division of exact integers — bit-stable on both engines."""
    sz = _shingled(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("n")
    )
    sz = sz.localCheckpoint(eager=False)  # three consumers, one compute
    ex = sz.select("doc_id", F.explode("shingles").alias("s"))
    cand = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sz.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("na"),
    )
    b = sz.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            F.least("na", "nb").alias("n_small"),
        )
        .filter(5 * F.col("common") >= 3 * F.col("n_small"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            "n_small",
            (F.col("common").cast("double") / F.col("n_small").cast("double")).alias(
                "containment"
            ),
        )
    )


# -- maximal duplicated spans (exact-substring dedup) -----------------------

#: Duplicated-run detection window, in tokens. Lee et al. 2022
#: ("Deduplicating Training Data Makes Language Models Better") use
#: 50 BPE tokens over a suffix array; 8 word tokens is the same knob
#: scaled to this corpus's ~100-token documents.
SPAN_W = 8


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    w AS (
        SELECT doc_id, len(toks) AS n_tok,
               unnest(generate_series(1, len(toks) - {SPAN_W} + 1)) AS p,
               toks
        FROM d WHERE len(toks) >= {SPAN_W}
    ),
    h AS (
        SELECT doc_id, n_tok, p,
               md5(array_to_string(toks[p : p + {SPAN_W} - 1], ' ')) AS wh
        FROM w
    ),
    dup AS (SELECT wh FROM h GROUP BY wh HAVING COUNT(*) >= 2),
    dpos AS (SELECT h.doc_id, h.n_tok, h.p FROM h JOIN dup USING (wh)),
    isl AS (
        SELECT doc_id, n_tok, p,
               CASE WHEN p - LAG(p) OVER (
                        PARTITION BY doc_id ORDER BY p) <= {SPAN_W}
                    THEN 0 ELSE 1 END AS newg
        FROM dpos
    ),
    gid AS (
        SELECT doc_id, n_tok, p,
               SUM(newg) OVER (PARTITION BY doc_id ORDER BY p) AS g
        FROM isl
    ),
    spans AS (
        SELECT doc_id, n_tok, g,
               MIN(p) AS s, MAX(p) + {SPAN_W} - 1 AS e
        FROM gid GROUP BY doc_id, n_tok, g
    )
    SELECT doc_id,
           COUNT(*) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           n_tok AS n_tokens,
           CAST(10000 * SUM(e - s + 1) // n_tok AS BIGINT) AS dup_bps
    FROM spans GROUP BY doc_id, n_tok
    """,
    tags=("ext", "dedup", "exact-substring"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated spans per document — the exact-substring
    dedup lens (Lee et al. 2022): every ``SPAN_W``-token rolling
    window is hashed; windows whose content occurs ≥2 times anywhere
    in the corpus (cross-doc AND self-repetition) mark duplicated
    positions; overlapping/adjacent duplicated windows merge into
    maximal spans (gaps-and-islands per doc), reported with exact
    token extents. Fixed-boundary segment dedup
    (``dedup_paragraph_exact``) misses duplicates that straddle its
    segment grid; rolling windows catch every aligned-or-not repeat
    ≥ SPAN_W tokens.

    Scale posture: the suffix-array construction the paper uses is a
    global sort the cluster can't stream; the rolling-window form is
    the distributable equivalent — row amplification is ONE 16-byte
    hash per token position (the inverted-index class; a stride >1
    trades recall of short repeats for proportionally fewer rows).
    Both shuffles are uniform by construction: the multiplicity
    groupBy keys on the window hash, the island merge on doc_id.
    In-row ``transform`` builds the hash list BEFORE posexplode, so
    the amplified rows never carry the token array."""
    docs = t(spark, sf_dir, "documents")
    d = cpu_spread(docs.select("doc_id", "text")).select(
        "doc_id", F.expr(TOKS_SPARK).alias("toks")
    )
    hashed = d.filter(F.size("toks") >= SPAN_W).select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.expr(
            f"transform(sequence(1, size(toks) - {SPAN_W} + 1),"
            f" p -> md5(array_join(slice(toks, p, {SPAN_W}), ' ')))"
        ).alias("whs"),
    )
    pos = hashed.select(
        "doc_id", "n_tok", F.posexplode("whs").alias("p0", "wh")
    ).select("doc_id", "n_tok", (F.col("p0") + 1).alias("p"), "wh")

    dup = (
        pos.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("mult"))
        .filter(F.col("mult") >= 2)
        .select("wh")
    )
    dpos = pos.join(dup, "wh").select("doc_id", "n_tok", "p")

    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("p")
    isl = dpos.withColumn(
        "newg",
        F.when(
            F.col("p") - F.lag("p").over(w_doc) <= SPAN_W, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "g",
        F.sum("newg").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "n_tok", "g").agg(
        F.min("p").alias("s"),
        (F.max("p") + SPAN_W - 1).alias("e"),
    )
    return spans.groupBy("doc_id", "n_tok").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    ).select(
        "doc_id",
        "n_dup_spans",
        "dup_tokens",
        F.col("n_tok").alias("n_tokens"),
        F.expr("cast(10000 * dup_tokens div n_tok as bigint)").alias(
            "dup_bps"
        ),
    )
