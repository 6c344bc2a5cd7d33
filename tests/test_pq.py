"""Product-quantization contracts: code-table shape, the Lloyd refinement
actually reducing quantization error, and ADC recall against the exact
squared-L2 top-k (the approximation-quality floor the compressed domain must
clear on the fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_estimator_spark.operators.pq import (
    _PQ_DSUB,
    _PQ_K,
    _PQ_M,
    _PQ_NQ,
    _PQ_TOPK,
    _T12,
    _assign,
    _components,
    _grouped_mean,
    _sub_d2,
    pq_codebooks_and_codes,
)
from flink_estimator_spark.operators.dedup import md5_word
from flink_estimator_spark.plans import QUERIES
from flink_estimator_spark.plans._helpers import t

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return t(spark, SF, "embeddings")


def test_codes_shape(spark, emb):
    """Every vector encodes to exactly M codes, one per subspace, each in
    [0, K) — the 8-byte-per-vector compression contract."""
    _cb, codes = pq_codebooks_and_codes(emb)
    n_vec = emb.count()
    rows = codes.collect()
    assert len(rows) == n_vec * _PQ_M
    assert {r["sub"] for r in rows} == set(range(_PQ_M))
    assert all(0 <= r["code"] < _PQ_K for r in rows)
    per_vec = codes.groupBy("vec_id").count().agg(F.min("count"), F.max("count")).first()
    assert per_vec[0] == per_vec[1] == _PQ_M


def _inertia(ex, codebook):
    """Total quantized squared error of assigning ex to its nearest code."""
    diff = F.col("v") - F.col("c")
    term = F.floor(diff * diff * F.lit(_T12)).cast("bigint")
    d2 = (
        ex.join(F.broadcast(codebook), ["sub", "pos"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum(term).alias("d2"))
    )
    return (
        d2.groupBy("vec_id", "sub")
        .agg(F.min("d2").alias("best"))
        .agg(F.sum("best"))
        .first()[0]
    )


def test_lloyd_refinement_reduces_error(spark, emb):
    """The refined codebook's quantization error is <= the seed codebook's
    (Lloyd monotonicity), and strictly better on this fixture."""
    ex = _components(emb)
    seed = md5_word(
        F.concat(F.lit("pq#"), F.col("vec_id").cast("string")), 1, 12
    ) % _PQ_K
    cb0 = _grouped_mean(ex.withColumn("code", seed))
    refined = _assign(ex, cb0)
    cb1 = _grouped_mean(
        ex.join(refined, ["vec_id", "sub"]).select("sub", "code", "pos", "v")
    )
    e0, e1 = _inertia(ex, cb0), _inertia(ex, cb1)
    assert e1 < e0, (e0, e1)


def test_adc_recall_vs_exact(spark, emb):
    """The reranked ADC-shortlist top-10 must recover a healthy share of
    the exact squared-L2 top-10 (compressed-domain search is approximate;
    the floor pins the fixture's achieved quality — 0.64 measured — so
    regressions surface).  Pure-ADC top-10 recall is ~0.34 on this
    isotropic fixture; the exact rerank of the 50-candidate shortlist is
    what buys the rest, which is exactly the production ADC+R split."""
    got = QUERIES["q_emb_pq_adc"].builder(spark, SF).collect()
    approx = {(r["qid"], r["cand_id"]) for r in got}

    ex = _components(emb)
    q = ex.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), "pos", F.col("v").alias("qv")
    )
    diff = F.col("v") - F.col("qv")
    term = F.floor(diff * diff * F.lit(_T12)).cast("bigint")
    d2 = (
        ex.join(F.broadcast(q), "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum(term).alias("d2"))
    )
    w = W.partitionBy("qid").orderBy("d2", "vec_id")
    exact = {
        (r["qid"], r["vec_id"])
        for r in d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_TOPK)
        .collect()
    }
    assert len(exact) == _PQ_NQ * _PQ_TOPK
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall


def test_constants_consistent():
    assert _PQ_M * _PQ_DSUB == 64


@pytest.mark.parametrize(
    "varr, carr, message",
    [
        (None, [1.0, 2.0], "_sub_d2: NULL input array"),
        ([1.0, 2.0], None, "_sub_d2: NULL input array"),
        ([1.0, 2.0], [1.0], "_sub_d2: component-array length mismatch"),
        ([1.0, None], [1.0, 2.0], "_sub_d2: NULL component in input arrays"),
    ],
)
def test_sub_d2_malformed_input_names_its_fault(spark, varr, carr, message):
    """Each kind of malformed component array fails with its own message; a
    NULL array must not be reported as a length mismatch."""
    df = spark.createDataFrame([(varr, carr)], "varr array<double>, carr array<double>")
    with pytest.raises(Exception, match=message):
        df.select(_sub_d2(F.col("varr"), F.col("carr"))).collect()

