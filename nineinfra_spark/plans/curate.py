"""[EXT] End-to-end corpus curation pipeline as ONE declarative plan.

The individual kernels (quality scoring, exact dedup, benchmark
decontamination) each exist as registered queries; this module chains
them the way a training-data pipeline actually runs them — one DAG,
one execution — proving the stages compose without materialization
barriers. The reference reserves data processing to the engine it
provisions (``internal/controller/kyuubi.go:189-203``); native here.

Stage order matters and is part of the contract: quality gate first
(cheapest, scan-shaped), then exact dedup among quality survivors
(canonical = min doc_id within the gated set), then decontamination
(eval-set shingles are computed from the RAW eval docs — a benchmark
leaks whether or not the leaked copy is high-quality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nineinfra_spark.plans._util import cpu_spread, t
from nineinfra_spark.plans.ext_dedup import N_EVAL_DOCS, SH_DUCK, SH_SPARK
from nineinfra_spark.plans.ext_text import TOKS_DUCK, TOKS_SPARK, _STOP
from nineinfra_spark.plans.registry import query

QUALITY_MIN_INT = 5500  # quality_score ≥ 0.55, compared as the integer

#: scaled-integer composite quality numerator (identical to
#: text_quality_stats — the threshold compares INTEGERS so the gate
#: can't flip engines on a float boundary). Zero-token docs score -1
#: (< every gate threshold → rejected) instead of raising ANSI
#: DIVIDE_BY_ZERO — a curation gate must FAIL an unscoreable doc, not
#: crash the corpus job (the triangles r9-advice class).
_QINT_SPARK = (
    "case when n_tokens > 0 then"
    " 40 * least(n_tokens, 100) + 3000"
    " - (6000 * n_stop + n_tokens) div (2 * n_tokens)"
    " + least((6000 * sum_len + 8 * n_tokens) div (16 * n_tokens), 3000)"
    " else -1 end"
)
_QINT_DUCK = (
    "CASE WHEN n_tokens > 0 THEN"
    " 40 * LEAST(n_tokens, 100) + 3000"
    " - (6000 * n_stop + n_tokens) // (2 * n_tokens)"
    " + LEAST((6000 * sum_len + 8 * n_tokens) // (16 * n_tokens), 3000)"
    " ELSE -1 END"
)


@query(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, source, {TOKS_DUCK} AS toks FROM documents
    ),
    feat AS (
        SELECT doc_id, lang, source, toks,
               len(toks) AS n_tokens,
               list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                   AS sum_len,
               len(list_filter(toks, x -> list_contains([{_STOP}], x)))
                   AS n_stop
        FROM tok WHERE len(toks) > 0
    ),
    gated AS (
        SELECT doc_id, lang, source, toks, n_tokens,
               {_QINT_DUCK} AS q_int
        FROM feat
        WHERE doc_id >= {N_EVAL_DOCS} AND {_QINT_DUCK} >= {QUALITY_MIN_INT}
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(array_to_string(toks, ' '))
                ORDER BY doc_id
            ) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    eval_sh AS (
        SELECT DISTINCT unnest({SH_DUCK}) AS s
        FROM tok WHERE doc_id < {N_EVAL_DOCS}
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({SH_DUCK}) AS s FROM deduped
        ) c WHERE c.s IN (SELECT s FROM eval_sh)
    )
    SELECT d.doc_id, d.lang, d.source,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           d.q_int / 10000.0 AS quality_score
    FROM deduped d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    tags=("ext", "pipeline", "curation"),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline end-to-end in one plan: quality gate →
    exact dedup → benchmark decontamination, emitting the curated
    corpus with per-doc metadata. Each stage is the already-verified
    kernel; this query proves they compose into a single DAG Catalyst
    plans as one execution — no intermediate tables, no
    materialization barriers.

    Scale posture: stage 1 is scan-shaped (tokens/features projected,
    integer-compared); stage 2 is one window keyed on the uniform
    content md5; stage 3 broadcasts the fixed-size eval shingle set
    and semi-joins at scan speed, anti-joining only doc_ids. The
    dedup subtree is consumed twice (contamination probe + final
    anti-join) and deliberately RECOMPUTES rather than materializes —
    measured faster both ways at sf1 because the checkpoint would
    persist the wide token arrays while the recompute path stays
    inside whole-stage codegen with per-branch column pruning (see
    the in-body comment). Shuffle bound: two corpus-keyed window
    exchanges, both on the same uniform md5 key."""
    docs = t(spark, sf_dir, "documents")
    # corpus side: spread the CPU-heavy tokenize (see
    # _util.cpu_spread); eval side below reads the raw table so its
    # doc_id < N_EVAL_DOCS filter still reaches the scan
    tok = cpu_spread(docs).select(
        "doc_id", "lang", "source", F.expr(TOKS_SPARK).alias("toks")
    )
    feat = tok.filter(F.size("toks") > 0).select(
        "doc_id",
        "lang",
        "source",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").alias("sum_len"),
        F.expr(f"size(filter(toks, x -> array_contains(array({_STOP}), x)))").alias(
            "n_stop"
        ),
    )
    gated = (
        feat.withColumn("q_int", F.expr(_QINT_SPARK))
        .filter(
            (F.col("doc_id") >= N_EVAL_DOCS)
            & (F.col("q_int") >= QUALITY_MIN_INT)
        )
        .select("doc_id", "lang", "source", "toks", "n_tokens", "q_int")
    )
    w = Window.partitionBy(F.expr("md5(array_join(toks, ' '))")).orderBy("doc_id")
    # `deduped` has TWO consumers (the contamination probe and the
    # final anti-join) and no ReusedExchange reaches across the
    # explode branch, so the tokenize→gate→window chain PLANS TWICE —
    # deliberate, measured (r12-continuation audit): a
    # localCheckpoint materialization of `deduped` must persist the
    # wide toks array and lost to the codegen'd, column-pruned
    # recompute at sf1 (2.96 s vs 2.32 s median); recompute also
    # keeps each branch's pruning independent. Revisit only if the
    # tokenize kernel grows much heavier than array storage.
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    eval_tok = docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
    eval_sh = (
        eval_tok.filter(F.col("doc_id") < N_EVAL_DOCS)
        .select(F.explode(F.expr(SH_SPARK)).alias("s"))
        .distinct()
    )
    contaminated = (
        deduped.select("doc_id", F.explode(F.expr(SH_SPARK)).alias("s"))
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        deduped.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("q_int") / 10000.0).alias("quality_score"),
        )
    )


@query(
    "curate_rejection_ledger",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ),
    corpus AS (
        SELECT * FROM tok WHERE doc_id >= {N_EVAL_DOCS}
    ),
    feat AS (
        SELECT doc_id, toks,
               len(toks) AS n_tokens,
               list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                   AS sum_len,
               len(list_filter(toks, x -> list_contains([{_STOP}], x)))
                   AS n_stop
        FROM corpus WHERE len(toks) > 0
    ),
    gated AS (
        SELECT doc_id, toks FROM feat
        WHERE {_QINT_DUCK} >= {QUALITY_MIN_INT}
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(array_to_string(toks, ' '))
                ORDER BY doc_id
            ) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    eval_sh AS (
        SELECT DISTINCT unnest({SH_DUCK}) AS s
        FROM tok WHERE doc_id < {N_EVAL_DOCS}
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({SH_DUCK}) AS s FROM deduped
        ) c WHERE c.s IN (SELECT s FROM eval_sh)
    ),
    counts AS (
        SELECT 'corpus' AS stage,
               (SELECT COUNT(*) FROM corpus) AS n_docs
        UNION ALL SELECT 'quality_gate',
               (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM gated)
        UNION ALL SELECT 'exact_duplicate',
               (SELECT COUNT(*) FROM gated) - (SELECT COUNT(*) FROM deduped)
        UNION ALL SELECT 'contaminated',
               (SELECT COUNT(*) FROM contaminated)
        UNION ALL SELECT 'kept',
               (SELECT COUNT(*) FROM deduped)
               - (SELECT COUNT(*) FROM contaminated)
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM counts
    """,
    # bounded-nlj: the stage-count crossJoins pair 1-ROW aggregate
    # frames (count × count) — constant-size broadcast NLJ by design
    tags=("curate", "audit", "ledger", "bounded-nlj"),
)
def curate_rejection_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation AUDIT twin of :func:`pipeline_curate_corpus`:
    where did the corpus go? One row per stage with the docs REJECTED
    there — ``quality_gate`` (including unscoreable zero-token docs,
    which the pipeline rejects by construction), ``exact_duplicate``,
    ``contaminated`` — plus the final ``kept`` row. Stage counts are
    computed with the IDENTICAL expressions as the pipeline (same
    gate integers, same md5 dedup key, same eval shingle set), so
    ledger rows sum exactly to the corpus size — pinned in
    tests/test_ext_pipeline.py against the pipeline's own output.

    Registered r14 (draft oracle pinned green in r13 —
    tests/test_ext_pipeline.py::test_rejection_ledger_matches_draft_oracle).
    Scale posture: the same plan as the pipeline with 1-row count
    aggregates instead of row output — no new shuffle shape.
    """
    docs = t(spark, sf_dir, "documents")
    tok = cpu_spread(docs).select(
        "doc_id", F.expr(TOKS_SPARK).alias("toks")
    )
    corpus = tok.filter(F.col("doc_id") >= N_EVAL_DOCS)
    feat = corpus.filter(F.size("toks") > 0).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").alias("sum_len"),
        F.expr(f"size(filter(toks, x -> array_contains(array({_STOP}), x)))").alias(
            "n_stop"
        ),
    )
    gated = feat.withColumn("q_int", F.expr(_QINT_SPARK)).filter(
        F.col("q_int") >= QUALITY_MIN_INT
    )
    w = Window.partitionBy(F.expr("md5(array_join(toks, ' '))")).orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    eval_sh = (
        tok.filter(F.col("doc_id") < N_EVAL_DOCS)
        .select(F.explode(F.expr(SH_SPARK)).alias("s"))
        .distinct()
    )
    contaminated = (
        deduped.select("doc_id", F.explode(F.expr(SH_SPARK)).alias("s"))
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    n_corpus = cnt(corpus, "corpus")
    n_quality = (
        corpus.agg(F.count(F.lit(1)).alias("a"))
        .crossJoin(gated.agg(F.count(F.lit(1)).alias("b")))
        .select(
            F.lit("quality_gate").alias("stage"),
            (F.col("a") - F.col("b")).cast("bigint").alias("n_docs"),
        )
    )
    n_dup = (
        gated.agg(F.count(F.lit(1)).alias("a"))
        .crossJoin(deduped.agg(F.count(F.lit(1)).alias("b")))
        .select(
            F.lit("exact_duplicate").alias("stage"),
            (F.col("a") - F.col("b")).cast("bigint").alias("n_docs"),
        )
    )
    n_contam = cnt(contaminated, "contaminated")
    n_kept = (
        deduped.agg(F.count(F.lit(1)).alias("a"))
        .crossJoin(contaminated.agg(F.count(F.lit(1)).alias("b")))
        .select(
            F.lit("kept").alias("stage"),
            (F.col("a") - F.col("b")).cast("bigint").alias("n_docs"),
        )
    )
    return (
        n_corpus.unionByName(n_quality)
        .unionByName(n_dup)
        .unionByName(n_contam)
        .unionByName(n_kept)
    )
