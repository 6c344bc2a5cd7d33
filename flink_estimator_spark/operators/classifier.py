"""Learned relational scorers for LLM data curation: a trained hashed
Naive-Bayes quality classifier and DSIR-style importance resampling.

Both operators TRAIN a model and APPLY it in one declarative pipeline — no
driver-side learning loop, no Python UDFs.  The shared trick is the hashed
feature space (the fastText / DSIR hashing trick): tokens/n-grams map to a
FIXED number of buckets via the engine-portable md5 hash, so the learned
weight table is bounded by the bucket count — never by corpus vocabulary —
and always broadcastable at any corpus scale.  Log-probability weights are
floor-quantized to 1e-6 and summed as exact BIGINTs (the q_doc_nll
portability contract: order-independent, absorbs last-ulp libm divergence
between engines), which makes a *trained classifier's scores* value-gateable
against DuckDB.

Reference parity note: the reference (jbcodeforce/flink-estimator) models no
ML operators; these extend the engine for the 100 TB training-data-pipeline
surface (quality filtering and distribution-matched data selection are the
two standard curation screens an LLM pipeline runs after dedup).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plans._helpers import spread, t
from ..plans.registry import query
from .dedup import md5_word

# --- hashed Naive Bayes quality classifier -------------------------------
_NB_BUCKETS = 65_536          # fixed feature space: weight table <= 64k rows
_NB_HOLD = 4                  # doc_id % 5 == 4 is the held-out scoring split

# --- DSIR importance resampling ------------------------------------------
_DSIR_BUCKETS = 10_000        # hashed bigram feature space (paper uses 10k)
_DSIR_TARGET = ("src0", "src1", "src2")   # the "curated target domain" proxy
_DSIR_TOP = 100

_Q = 1_000_000                # 1e-6 log-space quantum


def nb_tokens(d, extra=("lang",)):
    """(doc_id, *extra, bucket) hashed unigram stream — the shared feature
    extraction: lowercase whitespace tokens hashed into the fixed bucket
    space by the portable md5 word."""
    cols = ["doc_id", *extra]
    return (
        d.select(
            *cols,
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .withColumn("b", md5_word(F.col("tok"), 1, 12) % _NB_BUCKETS)
        .drop("tok")
    )


_NB_TOKS_SQL = rf"""
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % {_NB_BUCKETS} AS b
        FROM (
            SELECT doc_id, lang,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents
        )
"""

# the train-side CTE chain (hashed token stream -> per-bucket class counts
# -> totals) shared by the scoring pipeline and the chi-square term screen
_NB_BC_CTES = rf"""
        toks AS ({_NB_TOKS_SQL}),
        train AS (SELECT * FROM toks WHERE doc_id % 5 != {_NB_HOLD}),
        bc AS (
            SELECT b,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                   CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
            FROM train GROUP BY b
        ),
        tot AS (
            SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
                   CAST(sum(c_neg) AS BIGINT) AS t_neg,
                   CAST(count(*) AS BIGINT) AS v
            FROM bc
        )
"""

# the full train-and-score pipeline as reusable CTE text: held-out per-doc
# rows (doc_id, lang, n_tok, score_q, pred_en) — q_quality_classifier emits
# them verbatim; q_classifier_eval aggregates the confusion matrix over them
_NB_SCORED_CTES = rf"""
        {_NB_BC_CTES},
        w AS (
            SELECT b,
                   CAST(floor((ln(CAST(c_pos + 1 AS DOUBLE)) - ln(CAST(t_pos + v AS DOUBLE))
                             - ln(CAST(c_neg + 1 AS DOUBLE)) + ln(CAST(t_neg + v AS DOUBLE)))
                             * {_Q}) AS BIGINT) AS w_q
            FROM bc CROSS JOIN tot
        ),
        consts AS (
            SELECT CAST(floor((ln(CAST(t_neg + v AS DOUBLE))
                             - ln(CAST(t_pos + v AS DOUBLE))) * {_Q}) AS BIGINT) AS w_oov_q,
                   (SELECT CAST(floor((ln(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE))
                                     - ln(CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE)))
                                     * {_Q}) AS BIGINT)
                    FROM documents WHERE doc_id % 5 != {_NB_HOLD}) AS prior_q
            FROM tot
        ),
        scored AS (
            SELECT toks.doc_id,
                   max(toks.lang) AS lang,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(max(consts.prior_q)
                        + sum(COALESCE(w.w_q, consts.w_oov_q)) AS BIGINT) AS score_q,
                   CAST(CASE WHEN max(consts.prior_q)
                                  + sum(COALESCE(w.w_q, consts.w_oov_q)) > 0
                             THEN 1 ELSE 0 END AS BIGINT) AS pred_en
            FROM toks LEFT JOIN w USING (b) CROSS JOIN consts
            WHERE toks.doc_id % 5 = {_NB_HOLD}
            GROUP BY toks.doc_id
        )
"""


def _nb_scored(spark, sf_dir):
    """Held-out per-doc NB scores (doc_id, lang, n_tok, score_q, pred_en) —
    the train-and-apply pipeline shared by the score listing
    (q_quality_classifier) and the confusion-matrix evaluation
    (q_classifier_eval); mirrors ``_NB_SCORED_CTES`` statement-for-
    statement."""
    d = t(spark, sf_dir, "documents")
    toks = nb_tokens(spread(d, "doc_id"))
    is_pos = (F.col("lang") == "en").cast("bigint")

    train = toks.filter(F.col("doc_id") % 5 != _NB_HOLD)
    bc = train.groupBy("b").agg(
        F.sum(is_pos).alias("c_pos"),
        F.sum(F.lit(1) - is_pos).alias("c_neg"),
    )
    tot = bc.agg(
        F.sum("c_pos").alias("t_pos"),
        F.sum("c_neg").alias("t_neg"),
        F.count("*").alias("v"),
    )

    def q6(col):
        return F.floor(col * _Q).cast("bigint")

    lnd = lambda c: F.log(c.cast("double"))  # noqa: E731
    w = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        q6(
            lnd(F.col("c_pos") + 1) - lnd(F.col("t_pos") + F.col("v"))
            - lnd(F.col("c_neg") + 1) + lnd(F.col("t_neg") + F.col("v"))
        ).alias("w_q"),
    )
    prior = (
        d.filter(F.col("doc_id") % 5 != _NB_HOLD)
        .agg(
            q6(lnd(F.sum(is_pos)) - lnd(F.sum(F.lit(1) - is_pos))).alias("prior_q")
        )
    )
    consts = (
        tot.select(
            q6(
                lnd(F.col("t_neg") + F.col("v")) - lnd(F.col("t_pos") + F.col("v"))
            ).alias("w_oov_q")
        )
        .crossJoin(prior)
    )

    score = F.max("prior_q") + F.sum(F.coalesce(F.col("w_q"), F.col("w_oov_q")))
    return (
        toks.filter(F.col("doc_id") % 5 == _NB_HOLD)
        .join(F.broadcast(w), "b", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count("*").alias("n_tok"),
            score.cast("bigint").alias("score_q"),
            F.when(score > 0, 1).otherwise(0).cast("bigint").alias("pred_en"),
        )
    )


@query(
    "q_quality_classifier",
    oracle=rf"""
        WITH {_NB_SCORED_CTES}
        SELECT doc_id, lang, n_tok, score_q, pred_en
        FROM scored
        ORDER BY doc_id
    """,
    tags=("llm", "classifier", "quality", "naive-bayes", "trained"),
)
def q_quality_classifier(spark, sf_dir):
    """Hashed multinomial Naive-Bayes quality classifier, trained AND
    applied relationally — the fastText-style quality screen of LLM data
    pipelines (train on a labeled slice, score the rest), here with
    lang=='en' as the supervised label, an 80/20 doc_id-hash train/score
    split, Laplace smoothing, and log-odds scores.

    Scale shape: the learned model is a <=64k-row (bucket, weight) table —
    bounded by the FIXED hashed feature space, not the corpus vocabulary —
    so it broadcasts at any corpus size.  Training is one pass over the
    token stream partial-aggregated to (bucket, class-count); scoring is a
    second pass with a broadcast-hash left join.  Token instances never
    shuffle; only bucket-keyed partials do.  Per-bucket log-odds are
    floor-quantized to 1e-6 BIGINTs, so the trained scores are exact and
    order-independent (gate-able), with out-of-vocabulary buckets scored
    by the Laplace default weight."""
    return _nb_scored(spark, sf_dir).orderBy("doc_id")


@query(
    "q_classifier_eval",
    oracle=rf"""
        WITH {_NB_SCORED_CTES}
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN lang = 'en' AND pred_en = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN lang != 'en' AND pred_en = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN lang = 'en' AND pred_en = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN lang != 'en' AND pred_en = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(sum(CASE WHEN (lang = 'en') = (pred_en = 1) THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS accuracy_bp
        FROM scored
    """,
    tags=("llm", "classifier", "evaluation", "trained"),
)
def q_classifier_eval(spark, sf_dir):
    """Held-out evaluation of the trained NB quality classifier: the
    confusion matrix (tp/fp/fn/tn against the lang=='en' label) and exact
    basis-point accuracy over the 20% scoring split — completing the
    train -> apply -> EVALUATE lifecycle as declarative relational
    pipeline (a production curation funnel gates classifier rollouts on
    exactly this aggregate).

    Scale shape: q_quality_classifier's scored rows (see ``_nb_scored``)
    reduced by one global all-integer aggregate — a single partial-
    aggregated pass, one 1-row result; accuracy is exact integer division,
    no doubles anywhere."""
    s = _nb_scored(spark, sf_dir)
    is_en = F.col("lang") == "en"
    pred = F.col("pred_en") == 1
    cell = lambda c: F.sum(c.cast("bigint")).cast("bigint")  # noqa: E731
    return s.agg(
        F.count("*").alias("n_docs"),
        cell(is_en & pred).alias("tp"),
        cell(~is_en & pred).alias("fp"),
        cell(is_en & ~pred).alias("fn"),
        cell(~is_en & ~pred).alias("tn"),
        F.expr(
            "sum(CASE WHEN (lang = 'en') = (pred_en = 1) THEN 1 ELSE 0 END)"
            " * 10000 DIV count(*)"
        ).alias("accuracy_bp"),
    )


# ``sb`` (s, np, nn): held-out docs per coarse score bucket (score_q div
# 1e4, 1e-2 log-odds), positives (English) and negatives apart
_SCORE_BUCKET_CTES = f"""{_NB_SCORED_CTES},
        sb AS (
            SELECT score_q // 10000 AS s,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
                   CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nn
            FROM scored GROUP BY 1
        )"""


def _score_buckets(spark, sf_dir):
    """The Spark form of ``_SCORE_BUCKET_CTES``' ``sb``."""
    is_pos = (F.col("lang") == "en").cast("bigint")
    return (
        _nb_scored(spark, sf_dir)
        .select(F.expr("score_q DIV 10000").alias("s"), is_pos.alias("p"))
        .groupBy("s")
        .agg(F.sum("p").alias("np"), F.sum(F.lit(1) - F.col("p")).alias("nn"))
    )


@query(
    "q_classifier_auc",
    oracle=rf"""
        WITH {_SCORE_BUCKET_CTES},
        c AS (
            SELECT s, np, nn,
                   COALESCE(sum(nn) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cnb
            FROM sb
        ),
        auctot AS (
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg
            FROM sb
        )
        SELECT max(auctot.n_pos) AS n_pos,
               max(auctot.n_neg) AS n_neg,
               CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS u2,
               CAST(sum(np * (2 * cnb + nn)) * 10000
                    // (2 * max(auctot.n_pos) * max(auctot.n_neg)) AS BIGINT) AS auc_bp
        FROM c CROSS JOIN auctot
    """,
    tags=("llm", "classifier", "evaluation", "auc", "trained"),
)
def q_classifier_auc(spark, sf_dir):
    """Exact ROC AUC of the trained NB quality classifier over the held-out
    split — the threshold-free counterpart to q_classifier_eval's fixed-
    threshold confusion matrix, and the metric classifier-based curation
    actually tunes on (a score cut is chosen AFTER ranking quality is
    established).

    All-integer Mann-Whitney realization: AUC = P(score_pos > score_neg)
    + P(equal)/2, computed from per-score-bucket (positives, negatives)
    counts and one cumulative window — u2 = sum over buckets of
    np*(2*cum_neg_below + nn_ties) is exactly 2*U, and auc_bp is one
    truncating integral division (both engines truncate alike), so no
    doubles exist anywhere.  Scores coarsen through a MONOTONE truncating
    division (1e-2 log-odds resolution) first: the window then runs over
    DISTINCT COARSE BUCKETS — bounded by the score range over resolution
    (the q_ks_statistic distinct-cents class), not by held-out rows.
    Overflow posture matches ks_two_sample: u2*10000 stays in BIGINT
    while n_pos*n_neg <= (2^63-1)/2e4, ~6e5 held-out docs per class
    squared — beyond that the same quantized-fraction protocol applies."""
    sb = _score_buckets(spark, sf_dir)
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    c = sb.select(
        "s", "np", "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cnb"),
    )
    tot = sb.agg(F.sum("np").alias("n_pos"), F.sum("nn").alias("n_neg"))
    return c.crossJoin(F.broadcast(tot)).agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cnb") + F.col("nn")))
        .cast("bigint")
        .alias("u2"),
        F.expr(
            "sum(np * (2 * cnb + nn)) * 10000 DIV (2 * max(n_pos) * max(n_neg))"
        )
        .cast("bigint")
        .alias("auc_bp"),
    )


_DSIR_GRAMS_SQL = rf"""
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(t[i] || '_' || t[i + 1]), 1, 12)) AS BIGINT)
                   % {_DSIR_BUCKETS} AS b
        FROM (
            SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
            FROM (
                SELECT doc_id, source,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            )
        )
"""

_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET)


@query(
    "q_dsir_select",
    oracle=rf"""
        WITH grams AS ({_DSIR_GRAMS_SQL}),
        raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_raw FROM grams GROUP BY b),
        tgt AS (
            SELECT b, CAST(count(*) AS BIGINT) AS c_tgt
            FROM grams WHERE source IN ({_DSIR_TARGET_SQL}) GROUP BY b
        ),
        tot AS (
            SELECT (SELECT CAST(sum(c_raw) AS BIGINT) FROM raw) AS t_raw,
                   (SELECT CAST(COALESCE(sum(c_tgt), 0) AS BIGINT) FROM tgt) AS t_tgt
        ),
        w AS (
            SELECT raw.b,
                   CAST(floor((ln(CAST(COALESCE(tgt.c_tgt, 0) + 1 AS DOUBLE))
                             - ln(CAST(t_tgt + {_DSIR_BUCKETS} AS DOUBLE))
                             - ln(CAST(raw.c_raw + 1 AS DOUBLE))
                             + ln(CAST(t_raw + {_DSIR_BUCKETS} AS DOUBLE)))
                             * {_Q}) AS BIGINT) AS w_q
            FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
        ),
        scored AS (
            SELECT grams.doc_id,
                   max(grams.source) AS source,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(w.w_q) AS BIGINT) AS weight_q
            FROM grams JOIN w USING (b)
            GROUP BY grams.doc_id
        ),
        top AS (
            SELECT * FROM scored ORDER BY weight_q DESC, doc_id LIMIT {_DSIR_TOP}
        )
        SELECT CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id) AS BIGINT) AS rank,
               doc_id, source, n_grams, weight_q
        FROM top
        ORDER BY rank
    """,
    tags=("llm", "curation", "dsir", "importance-sampling", "trained"),
)
def q_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): estimate hashed-bigram unigram LMs
    over a curated TARGET domain and over the RAW corpus, weight every raw
    document by its log importance ratio sum(ln p_tgt(b) - ln p_raw(b)),
    and keep the top-100 — the distribution-matched selection screen that
    follows dedup in a pretraining pipeline.  (The paper samples with
    Gumbel noise; selection here is deterministic top-k so the learned
    weights themselves are value-gated.)

    Scale shape: both LMs live in the FIXED 10k-bucket hashed feature
    space (c_raw covers every bucket present, so target-only smoothing is
    a left join), making the weight table broadcastable at any corpus
    size.  Two passes over the bigram stream (count, score), both
    partial-aggregated map-side; the global top-100 reduces via
    distributed TakeOrdered before a bounded 100-row rank window (the
    ALLOWED_GLOBAL_WINDOW contract).  Per-bucket log ratios are
    floor-quantized 1e-6 BIGINTs: exact, order-independent."""
    d = t(spark, sf_dir, "documents")
    tks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # build the token array once, then the bigram explode over it
    grams = (
        spread(d, "doc_id")
        .withColumn("tks", tks)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tks) - 1),"
                    " i -> concat(element_at(tks, i), '_', element_at(tks, i + 1)))"
                )
            ).alias("g"),
        )
        .withColumn("b", md5_word(F.col("g"), 1, 12) % _DSIR_BUCKETS)
        .drop("g")
    )
    raw = grams.groupBy("b").agg(F.count("*").alias("c_raw"))
    tgt = (
        grams.filter(F.col("source").isin(*_DSIR_TARGET))
        .groupBy("b")
        .agg(F.count("*").alias("c_tgt"))
    )
    tot = raw.agg(F.sum("c_raw").alias("t_raw")).crossJoin(
        tgt.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tgt"))
    )
    lnd = lambda c: F.log(c.cast("double"))  # noqa: E731
    w = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                (
                    lnd(F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                    - lnd(F.col("t_tgt") + _DSIR_BUCKETS)
                    - lnd(F.col("c_raw") + 1)
                    + lnd(F.col("t_raw") + _DSIR_BUCKETS)
                )
                * _Q
            )
            .cast("bigint")
            .alias("w_q"),
        )
    )
    scored = (
        grams.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.max("source").alias("source"),
            F.count("*").alias("n_grams"),
            F.sum("w_q").alias("weight_q"),
        )
    )
    top = scored.orderBy(F.desc("weight_q"), "doc_id").limit(_DSIR_TOP)
    return (
        top.withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("weight_q"), "doc_id"))
            .cast("bigint"),
        )
        .select("rank", "doc_id", "source", "n_grams", "weight_q")
        .orderBy("rank")
    )


_CAL_BUCKET = 500_000   # calibration bin width: 0.5 log-odds units (1e-6 q)


@query(
    "q_classifier_calibration",
    oracle=rf"""
        WITH {_NB_SCORED_CTES},
        binned AS (
            SELECT score_q // {_CAL_BUCKET} AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
            FROM scored
            GROUP BY 1
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               n, n_pos,
               CAST(n_pos * 10000 // n AS BIGINT) AS pos_rate_bp
        FROM binned
        WHERE n >= 3
        ORDER BY bin
    """,
    tags=("llm", "classifier", "evaluation", "calibration", "trained"),
)
def q_classifier_calibration(spark, sf_dir):
    """Calibration table (reliability diagram) of the trained NB quality
    classifier: held-out docs binned by coarse log-odds score (0.5-unit bins), each bin
    reporting its empirical positive rate in basis points — the third leg
    of the evaluation family (confusion matrix = one threshold, AUC =
    ranking, calibration = do the SCORES mean what they claim), and what
    decides whether a score cut can be chosen from the score scale
    directly or needs recalibration first.

    All-integer: bins by truncating division (0.5-log-odds width — both
    engines truncate alike), counts exact, pos_rate one integral division;
    bins with fewer than 3 docs are suppressed (rate estimates there are
    noise, and the floor keeps the output stable under fixture growth).
    One grouped aggregate over the scored rows — no windows, no joins
    beyond the shared train-and-apply pipeline."""
    s = _nb_scored(spark, sf_dir)
    binned = (
        s.select(
            F.expr(f"score_q DIV {_CAL_BUCKET}").alias("bin"),
            (F.col("lang") == "en").cast("bigint").alias("p"),
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("p").alias("n_pos"))
    )
    return (
        binned.filter(F.col("n") >= 3)
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n",
            "n_pos",
            F.expr("n_pos * 10000 DIV n").cast("bigint").alias("pos_rate_bp"),
        )
        .orderBy("bin")
    )


@query(
    "q_threshold_sweep",
    oracle=rf"""
        WITH {_SCORE_BUCKET_CTES},
        c AS (
            SELECT s,
                   CAST(sum(np) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS tp,
                   CAST(sum(nn) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS fp
            FROM sb
        ),
        postot AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos FROM sb)
        SELECT CAST(s AS BIGINT) AS s, tp, fp,
               CAST(tp * 10000 // (tp + fp) AS BIGINT) AS precision_bp,
               CAST(tp * 10000 // n_pos AS BIGINT) AS recall_bp,
               CAST(tp * 20000 // (tp + fp + n_pos) AS BIGINT) AS f1_bp
        FROM c CROSS JOIN postot
        ORDER BY s DESC
    """,
    tags=("llm", "classifier", "evaluation", "threshold", "trained"),
)
def q_threshold_sweep(spark, sf_dir):
    """The operating-characteristic table of the trained NB classifier:
    one row per DISTINCT coarse score bucket, treating that bucket as the
    decision threshold and reporting exact precision / recall / F1 in
    basis points — the sweep a curation pipeline reads to PICK the cut
    q_classifier_eval then audits (AUC says the ranking is good;
    this says where to cut it).

    All-integer: cumulative (tp, fp) come from one descending window over
    per-bucket counts — bounded by DISTINCT COARSE BUCKETS (the
    q_classifier_auc boundedness class), never by held-out rows — and
    precision/recall/F1 are single truncating integral divisions
    (F1 = 2tp/(2tp+fp+fn) needs no intermediate ratio: with
    fn = n_pos − tp it is exactly tp·20000 div (tp+fp+n_pos))."""
    sb = _score_buckets(spark, sf_dir)
    w = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, 0)
    c = sb.select(
        "s",
        F.sum("np").over(w).cast("bigint").alias("tp"),
        F.sum("nn").over(w).cast("bigint").alias("fp"),
    )
    tot = sb.agg(F.sum("np").cast("bigint").alias("n_pos"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").cast("bigint").alias("s"),
            "tp",
            "fp",
            F.expr("tp * 10000 DIV (tp + fp)").alias("precision_bp"),
            F.expr("tp * 10000 DIV n_pos").alias("recall_bp"),
            F.expr("tp * 20000 DIV (tp + fp + n_pos)").alias("f1_bp"),
        )
        .orderBy(F.desc("s"))
    )


from .textstats import _SQL_LANG_GUESS  # noqa: E402  (shared oracle CTE)


@query(
    "q_cohen_kappa",
    oracle=rf"""
        WITH {_NB_SCORED_CTES},
        guessed AS ({_SQL_LANG_GUESS}),
        j AS (
            SELECT scored.doc_id,
                   scored.pred_en AS a,
                   CASE WHEN guessed.lang_guess = 'en' THEN 1 ELSE 0 END AS b
            FROM scored JOIN guessed USING (doc_id)
        ),
        cells AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
            FROM j
        )
        SELECT n_docs, n11, n10, n01, n00,
               CAST((n11 + n00) * 10000 // n_docs AS BIGINT) AS po_bp,
               CAST(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                    * 10000 // (n_docs * n_docs) AS BIGINT) AS pe_bp,
               CAST(CAST(n_docs * (n11 + n00)
                         - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                         AS HUGEINT) * 1000000
                    // (n_docs * n_docs
                        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
                    AS BIGINT) AS kappa_e6
        FROM cells
    """,
    tags=("llm", "classifier", "evaluation", "agreement", "trained"),
)
def q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa between the TRAINED NB classifier and the cheap
    stopword-vote language heuristic over the held-out split — the
    inter-rater-agreement question every trained curation screen faces:
    does the model add information beyond the heuristic it would replace,
    or does it merely replicate it?  Kappa corrects raw agreement for
    chance: (p_o − p_e)/(1 − p_e) from the 2×2 rater table.

    All-integer protocol: the four cells are one global aggregate over the
    scored-docs ⋈ heuristic join (doc_id-keyed equi-join, both sides the
    held-out 20%); kappa_e6 cross-multiplies through by n² so no ratio is
    ever materialized — numerator n·(n11+n00) − Σ marginal products,
    denominator n² − Σ marginal products, one truncating integral
    division in DECIMAL(38,0)/HUGEINT (n²·1e6 leaves BIGINT past ~3e6
    held-out docs; both raters degenerate-constant would zero the
    denominator — impossible while both classes appear, which the fixture
    guarantees)."""
    from .textstats import lang_guess

    s = _nb_scored(spark, sf_dir)
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == _NB_HOLD)
        .select("doc_id", lang_guess("text").alias("g"))
    )
    j = s.select("doc_id", "pred_en").join(d, "doc_id")
    a = F.col("pred_en") == 1
    b = F.col("g") == "en"
    cell = lambda c: F.sum(c.cast("bigint")).cast("bigint")  # noqa: E731
    cells = j.agg(
        F.count("*").alias("n_docs"),
        cell(a & b).alias("n11"),
        cell(a & ~b).alias("n10"),
        cell(~a & b).alias("n01"),
        cell(~a & ~b).alias("n00"),
    )
    pe_num = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    return cells.select(
        "n_docs", "n11", "n10", "n01", "n00",
        F.expr("(n11 + n00) * 10000 DIV n_docs").alias("po_bp"),
        F.expr(f"{pe_num} * 10000 DIV (n_docs * n_docs)").alias("pe_bp"),
        F.expr(
            f"CAST(CAST(n_docs * (n11 + n00) - {pe_num} AS DECIMAL(38,0))"
            f" * 1000000 AS DECIMAL(38,0))"
            f" div (n_docs * n_docs - {pe_num})"
        ).alias("kappa_e6"),
    )


_CHI2_TOP = 20


@query(
    "q_chi2_terms",
    oracle=rf"""
        WITH {_NB_BC_CTES},
        x AS (
            SELECT bc.b, bc.c_pos, bc.c_neg, tot.t_pos, tot.t_neg,
                   CAST(bc.c_pos * (tot.t_neg - bc.c_neg)
                        - bc.c_neg * (tot.t_pos - bc.c_pos) AS BIGINT) AS dev
            FROM bc CROSS JOIN tot
        ),
        chi AS (
            SELECT b, c_pos, c_neg,
                   CAST(CASE WHEN c_pos * t_neg > c_neg * t_pos
                             THEN 1 ELSE -1 END AS BIGINT) AS en_assoc,
                   CAST(CAST(t_pos + t_neg AS HUGEINT) * dev * dev * 1000
                        // ((c_pos + c_neg) * (t_pos + t_neg - c_pos - c_neg))
                        // t_pos // t_neg AS BIGINT) AS chi2_e3
            FROM x
        ),
        top AS (
            SELECT * FROM chi ORDER BY chi2_e3 DESC, b LIMIT {_CHI2_TOP}
        )
        SELECT CAST(row_number() OVER (ORDER BY chi2_e3 DESC, b) AS BIGINT) AS rank,
               b, c_pos, c_neg, en_assoc, chi2_e3
        FROM top
        ORDER BY rank
    """,
    tags=("llm", "classifier", "feature-selection", "chi-square", "trained"),
)
def q_chi2_terms(spark, sf_dir):
    """Chi-square feature selection over the classifier's TRAIN split: the
    top-20 hashed token buckets most associated with the lang=='en' label
    — the screen that explains WHAT a trained quality classifier keys on
    (and the standard pre-training feature ranking when the hashed space
    is to be pruned).  en_assoc signs each bucket: +1 enriched in the
    positive class, −1 in the negative.

    Exact 2×2 chi² without a single double: with per-bucket counts
    (a, b) = (c_pos, c_neg) and totals (t_pos, t_neg), chi² =
    N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)); the numerator rides DECIMAL(38,0)
    / HUGEINT and the three denominators divide out SEQUENTIALLY —
    floor(floor(x/p)/q) = floor(x/pq) for nonnegative ints, so the chain
    is exactly the single division without materializing the ~1e2⁸
    denominator product.  dev stays BIGINT because per-bucket counts are
    hash-thinned (≤ corpus/64k on average); the DECIMAL ceiling
    N·dev²·1e3 < 1e38 holds to ~1e9 tokens per hot bucket — far beyond
    any real bucket under 64k-way hashing.  Shape: the training
    aggregate (one shuffle on bucket), a broadcast totals join, a
    distributed TakeOrdered top-20, and a 20-row rank window."""
    d = t(spark, sf_dir, "documents")
    toks = nb_tokens(spread(d, "doc_id"))
    is_pos = (F.col("lang") == "en").cast("bigint")
    train = toks.filter(F.col("doc_id") % 5 != _NB_HOLD)
    bc = train.groupBy("b").agg(
        F.sum(is_pos).alias("c_pos"),
        F.sum(F.lit(1) - is_pos).alias("c_neg"),
    )
    tot = bc.agg(
        F.sum("c_pos").alias("t_pos"), F.sum("c_neg").alias("t_neg")
    )
    x = bc.crossJoin(F.broadcast(tot)).withColumn(
        "dev",
        (
            F.col("c_pos") * (F.col("t_neg") - F.col("c_neg"))
            - F.col("c_neg") * (F.col("t_pos") - F.col("c_pos"))
        ).cast("bigint"),
    )
    chi = x.select(
        "b",
        "c_pos",
        "c_neg",
        F.when(F.col("c_pos") * F.col("t_neg") > F.col("c_neg") * F.col("t_pos"), 1)
        .otherwise(-1)
        .cast("bigint")
        .alias("en_assoc"),
        F.expr(
            "CAST(CAST(t_pos + t_neg AS DECIMAL(38,0)) * dev * dev * 1000"
            " div ((c_pos + c_neg) * (t_pos + t_neg - c_pos - c_neg))"
            " div t_pos div t_neg AS BIGINT)"
        ).alias("chi2_e3"),
    )
    top = chi.orderBy(F.desc("chi2_e3"), "b").limit(_CHI2_TOP)
    return (
        top.withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("chi2_e3"), "b"))
            .cast("bigint"),
        )
        .select("rank", "b", "c_pos", "c_neg", "en_assoc", "chi2_e3")
        .orderBy("rank")
    )
