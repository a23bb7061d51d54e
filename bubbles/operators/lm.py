"""Corpus-trained bigram language-model scoring.

CCNet-style (Wenzek et al., 2019) quality filtering scores each
document under a language model trained on a trusted corpus and keeps
the low-perplexity tail.  This module is the Spark-native version of
that signal: an add-one-smoothed bigram model whose counts are ONE
aggregation over the training split, and whose per-document score is
two equi-joins plus one aggregation — no UDFs, fully JVM-side.

Score definition (exact integer arithmetic so the DuckDB oracle twin
is bit-identical — same micro-unit discipline as
``bubbles/operators/text.py::quality_micros``):

    inv_p(w2 | w1)  =  (ctx(w1) + V) / (big(w1, w2) + 1)

the inverse of the add-one-smoothed bigram probability.  Each token's
contribution is floored into integer micro-units,

    tok_micro = (1_000_000 * (ctx + V)) div (big + 1)

and a document's score is the int64 sum / integer-division average of
its bigram contributions.  Low inv_avg_micro == fluent under the
corpus LM; unseen contexts score V * 1e6.  No log/exp anywhere, so
Java vs libm ulp drift cannot produce oracle hash mismatches, and the
int64 sum is aggregation-order independent.

Scale notes (100 TB): training is one shuffled count over corpus
bigrams (map-side partial agg applies); the context relation is
DERIVED from the bigram relation by a second, much smaller
aggregation — the corpus is scanned exactly once for bigrams plus
once for the vocab size.  Scoring shuffles on the bigram string
(high-cardinality, near-uniform — no skew salting needed; AQE
broadcasts the count tables when they fit).  The single-row vocab
relation rides a broadcast nested-loop join, never a driver collect.
``bigram_lm_score`` and ``dsir_weights`` run their training jobs at
call time: each materializes its corpus bigram counts with an eager
``localCheckpoint`` and counts them to pick the join strategy, so the
returned scoring frame is lazy but the training is already done.
int64 micro-units hold up to ~9e12 per-token inverse probabilities
(ctx + V up to ~9e12 — about a 10-trillion-token corpus); past that,
pass ``micro=1``.

Reference parity: the reference engine has no LM surface; this is a
training-data-pipeline extension (task brief: text analysis / quality
scoring family, alongside quality_score at
bubbles/operators/text.py:116).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bubbles.operators.text import tokens, word_bigrams


def bigram_counts(
    corpus: DataFrame, text_col: str = "text", materialize: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the model: returns (bigram, context, vocab) relations.

    * ``big``   — (bg, big_n): corpus count of each "w1 w2" bigram.
    * ``ctx``   — (w1, ctx_n): count of bigrams starting with w1,
      derived from ``big`` by summation (no second corpus scan).
    * ``vocab`` — single row (v): distinct unigram count.

    With ``materialize=False`` (default) everything is lazy — nothing
    here launches a job, but a plan that references both ``big`` and
    ``ctx`` executes the corpus scan→explode→count(bg) pipeline TWICE
    (Catalyst does not CSE shared subtrees; ``ctx`` chains from
    ``big``).  ``materialize=True`` cuts ``big`` with an eager
    ``localCheckpoint`` so the corpus bigram derivation runs exactly
    once and ``ctx`` becomes a slim re-aggregation of the materialized
    counts — the scoring shape (``bigram_lm_score``/``dsir_weights``)
    wants this.  Lifecycle note: the checkpointed blocks stay pinned
    until the returned frames are garbage-collected (the engine-wide
    ``localCheckpoint`` discipline — see similarity.lsh_topk); callers
    that loop over many models should drop references between rounds.
    """
    bg = corpus.select(F.explode(word_bigrams(F.col(text_col))).alias("bg"))
    big = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("big_n"))
    if materialize:
        big = big.localCheckpoint()
    ctx = (
        big.withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .groupBy("w1")
        .agg(F.sum("big_n").alias("ctx_n"))
    )
    vocab = corpus.select(
        F.explode(tokens(F.col(text_col))).alias("tok")
    ).agg(F.count_distinct("tok").alias("v"))
    return big, ctx, vocab


def bigram_lm_score(
    docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    micro: int = 1_000_000,
) -> DataFrame:
    """Score ``docs`` under an add-one bigram LM trained on ``corpus``.

    Returns (id_col, n_bigrams, inv_sum_micro, inv_avg_micro) — one
    row per document that has at least one bigram (texts of fewer
    than two tokens have no bigram events and are omitted; the oracle
    twin applies the same contract).  ``inv_avg_micro`` is the
    integer-division mean inverse probability in micro-units: lower
    is more fluent under the corpus model.

    Round 12 (guide §2.4 + §3.1): the corpus bigram pipeline is
    materialized ONCE (``bigram_counts(materialize=True)``) instead of
    executing twice per query (once under the big join, once under
    ctx's re-aggregation).  A ``localCheckpoint`` erases size
    statistics, which would silently degrade the two count-table
    joins from broadcast to sort-merge (measured 3.6× WORSE in round
    11 — the naive cut was rejected for exactly this), so the join
    strategy no longer rides on stats: the count tables get an
    explicit ``broadcast()`` hint when the measured bigram count is
    under ``BUBBLES_LM_BROADCAST_ROWS`` (default 2M rows ≈ tens of MB
    framed — inside the broadcast comfort zone of guide §3.1).  Past
    the threshold (a trillion-token corpus) both joins fall back to
    shuffle joins, which is what they would have been anyway.  The
    count job that reads the threshold runs over the just-checkpointed
    blocks, so it costs one bounded scan of the slim count relation,
    not a corpus pass.
    """
    import os

    big, ctx, vocab = bigram_counts(corpus, text_col, materialize=True)
    n_big = big.count()  # cached blocks — no corpus re-scan
    bcast_rows = int(os.environ.get("BUBBLES_LM_BROADCAST_ROWS", "2000000"))
    if n_big <= bcast_rows:
        # ctx is a grouped rollup of big, so |ctx| <= n_big — one
        # measured gate covers both hint decisions
        big, ctx = F.broadcast(big), F.broadcast(ctx)
    events = docs.select(
        F.col(id_col), F.explode(word_bigrams(F.col(text_col))).alias("bg")
    )
    scored = (
        events.join(big, "bg", "left")
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .join(ctx, "w1", "left")
        .join(F.broadcast(vocab))  # 1 row — broadcast, no driver job
        .select(
            F.col(id_col),
            F.expr(
                f"CAST({micro} AS BIGINT) * (coalesce(ctx_n, CAST(0 AS BIGINT)) + v)"
                " div (coalesce(big_n, CAST(0 AS BIGINT)) + 1)"
            ).alias("tok_micro"),
        )
    )
    # the SUM runs in DECIMAL(38,0): tok_micro alone is bounded by
    # micro * (ctx_max + V) ~ 1e16-1e18, but a long OOV document SUMS
    # thousands of those — a BIGINT sum wraps past 2^63 silently in
    # non-ANSI Spark and the garbage doc would score as maximally
    # fluent (the exact docs a perplexity filter exists to drop).
    # DuckDB's sum() over BIGINT is already HUGEINT, so the twins
    # agree; the final div brings the average back inside long.
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("tok_micro").cast("decimal(38,0)"))
        .cast("long")
        .alias("inv_sum_micro"),
        F.expr(
            "CAST(sum(CAST(tok_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)"
        ).alias("inv_avg_micro"),
    )


def dsir_weights(
    docs: DataFrame,
    target_corpus: DataFrame,
    base_corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    micro: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., 2023: Data Selection
    for Language Models via Importance Resampling): score each
    document under a TARGET-domain bigram LM and a BASE-corpus bigram
    LM, and weight it by how much more target-like than base-like it
    is.  Selecting the top-weight documents importance-resamples the
    base distribution toward the target domain.

    Weights stay in exact integer space: with ``inv_avg_micro`` the
    add-one inverse probability from ``bigram_lm_score`` (lower =
    more fluent under that LM),

        weight_ratio_micro = (micro * base_inv_avg) div target_inv_avg

    > ``micro`` means the doc is MORE likely under the target LM than
    under the base LM.  ``target_inv_avg >= micro`` always (the
    add-one inverse probability is >= 1 because context counts
    dominate bigram counts), so the division is safe.  Both scores
    tokenize identically, so every >=2-token document appears in both
    and the join is inner.

    Scoring joins are the same shape as ``bigram_lm_score``; the
    final join is id-to-id (shuffle or broadcast, AQE-owned).

    The two trainings each materialize their corpus bigram counts
    (see ``bigram_lm_score``), which launches a job per LM at build
    time — run sequentially those barriers serialize two pipelines
    Spark previously overlapped inside one lazy job (measured +36%
    at sf0.1), so the two builds are submitted from a 2-thread pool
    (guide §2.6: overlap independent jobs; job submission is
    thread-safe and FIFO scheduling back-fills the first job's tail
    with the second job's tasks). Each build runs under
    ``inheritable_thread_target``, so its jobs carry the caller's job
    group and description like the rest of the call.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def _t():
        return bigram_lm_score(
            docs, target_corpus, text_col, id_col, micro
        ).select(
            F.col(id_col),
            F.col("n_bigrams"),
            F.col("inv_avg_micro").alias("target_inv_avg"),
        )

    def _b():
        return bigram_lm_score(docs, base_corpus, text_col, id_col, micro).select(
            F.col(id_col), F.col("inv_avg_micro").alias("base_inv_avg")
        )

    inherit = inheritable_thread_target(docs.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        ft, fb = pool.submit(inherit(_t)), pool.submit(inherit(_b))
        t, b = ft.result(), fb.result()
    return t.join(b, id_col).select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.col("target_inv_avg"),
        F.col("base_inv_avg"),
        F.expr(
            f"CAST({micro} AS BIGINT) * base_inv_avg div target_inv_avg"
        ).alias("weight_ratio_micro"),
    )
