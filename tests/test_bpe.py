"""BPE differential: the distributed trainer must learn EXACTLY the merge
list a straightforward single-machine reference implementation learns from
the same vocabulary — same pairs, same order, same weighted counts."""

from __future__ import annotations

import os
import re
from collections import Counter

import flink_estimator_spark.plans  # noqa: F401  (finish registry init first)
from flink_estimator_spark.operators.bpe import bpe_train
from flink_estimator_spark.plans._helpers import t

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _reference_bpe(texts, iters):
    vocab = Counter()
    for txt in texts:
        for w in re.split(r"\s+", txt.strip().lower()):
            if w:
                vocab[w] += 1
    words = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for _ in range(iters):
        counts = Counter()
        for w, syms in words.items():
            f = vocab[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # (count desc, pair lexicographic) — the determinism contract
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def test_distributed_bpe_matches_reference_trainer(spark):
    docs = t(spark, SF_DIR, "documents")
    got, _ = bpe_train(docs, iters=6, mode="distributed")
    texts = [r["text"] for r in docs.select("text").collect()]
    want = _reference_bpe(texts, iters=6)
    assert got == want
    assert len(got) == 6, "fixture corpus should support 6 merges"


def test_local_mode_matches_distributed_and_reference(spark):
    """The driver-local cutover (r3 verdict item 5) must learn the exact
    merge list of both the distributed loop and the reference trainer."""
    docs = t(spark, SF_DIR, "documents")
    local, _ = bpe_train(docs, iters=6, mode="local")
    texts = [r["text"] for r in docs.select("text").collect()]
    assert local == _reference_bpe(texts, iters=6)


def test_local_mode_issues_far_fewer_spark_jobs(spark):
    """The whole point of the cutover: merge count must not multiply Spark
    job count.  Local mode's job count is CONSTANT in iters (all jobs are
    the vocab build + one collect); the distributed loop pays >= 1 job per
    merge (argmax + checkpoint).  Asserted on marginals so the property is
    the thing tested, not a fixture-sized ratio: at 64 merges the implied
    gap is (d2 + 62*marginal) / l6 >= 5x — measured 22 vs 5 jobs already at
    6 merges (4.4x), growing linearly."""
    sc = spark.sparkContext
    docs = t(spark, SF_DIR, "documents")

    def jobs_for(group: str, iters: int, **kw) -> int:
        sc.setJobGroup(group, group)
        try:
            bpe_train(docs, iters=iters, **kw)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    l2 = jobs_for("bpe-local-2", 2, mode="local")
    l6 = jobs_for("bpe-local-6", 6, mode="local")
    d2 = jobs_for("bpe-dist-2", 2, mode="distributed")
    d6 = jobs_for("bpe-dist-6", 6, mode="distributed")
    assert l6 - l2 == 0, f"local jobs must not grow with iters: {l2} -> {l6}"
    dist_marginal = (d6 - d2) / 4
    assert dist_marginal >= 1, (d2, d6)
    # the 64-merge shape the r3 verdict priced out: >= 5x fewer jobs local
    implied_dist_64 = d2 + dist_marginal * 62
    assert implied_dist_64 >= 5 * l6, (implied_dist_64, l6)


def test_accept_batch_prefix_rules():
    """Pure-logic checks of the batched-BPE acceptance proof obligations
    (operators/bpe.py::_accept_batch): disjointness, the new-pair bound,
    concatenation aliasing, and the prefix-break discipline."""
    from flink_estimator_spark.operators.bpe import _accept_batch

    # symbol overlap with an earlier accepted merge -> prefix break
    top = [("t", "h", 100), ("h", "e", 95), ("i", "n", 90)]
    got = _accept_batch(top, {"h": 95}, {"h": 95, "e": 80})
    assert got == [("t", "h", 100)]

    # disjoint but count <= an earlier new-pair bound -> break: merging
    # (t,h) can create (th,e) with count up to count(h,e)=95 >= 90
    top = [("t", "h", 100), ("i", "n", 90)]
    got = _accept_batch(top, {}, {"h": 95})
    assert got == [("t", "h", 100)]

    # disjoint and strictly above every bound -> batched
    top = [("a", "b", 100), ("e", "f", 98), ("b", "c", 50)]
    got = _accept_batch(top, {}, {"b": 50, "f": 49})
    assert got == [("a", "b", 100), ("e", "f", 98)]

    # candidate symbol equals an earlier merge's concatenation -> break
    # (the symbol "ab" the merge creates aliases the pre-existing one,
    # so the candidate's count would grow mid-batch)
    top = [("a", "b", 100), ("ab", "z", 60)]
    got = _accept_batch(top, {}, {"b": 40})
    assert got == [("a", "b", 100)]

    # stop rule: count < 2 never accepted
    assert _accept_batch([("a", "b", 1)], {}, {}) == []

    # accepted merge whose concatenation aliases a LIVE symbol (one that
    # participates in current pairs) terminates the batch: pre-existing
    # pairs (x,"the")/("the",y) gain count when ("th","e") runs, and
    # gained-count = old + created is not limited by the cap bound.  The
    # aliasing candidate itself is still the argmax, so it stays.
    top = [("th", "e", 100), ("i", "n", 40)]
    got = _accept_batch(top, {"the": 90}, {"e": 10})
    assert got == [("th", "e", 100)]
    got = _accept_batch(top, {}, {"the": 90, "e": 10})
    assert got == [("th", "e", 100)]
    # same counts, no live "the" symbol -> both batch
    got = _accept_batch(top, {}, {"e": 10})
    assert got == [("th", "e", 100), ("i", "n", 40)]


def _batchy_corpus():
    """10 symbol-disjoint word families with strictly descending pair
    counts: family i contributes pair (p_i, q_i) with count 100-2i while
    every neighbor pair stays at 50-i — so the acceptance bound
    min(n_i, right_max[q_i]) = 50-i clears all ten in ONE round."""
    import string

    chars = string.ascii_lowercase + string.digits + "!@#$%^&*"
    texts = []
    for i in range(10):
        p, q, r, s = chars[4 * i : 4 * i + 4]
        texts.extend([p + q + r] * (50 - i))
        texts.extend([p + q + s] * (50 - i))
    return texts


def test_batched_distributed_bpe_is_exact_and_sublinear(spark):
    """The beyond-cap path (r4 verdict item 4): on a batching-favorable
    corpus the distributed trainer learns 8 merges in ONE round — exact
    sequential-BPE merge list at far fewer than one job per merge."""
    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(_batchy_corpus())],
        "doc_id long, text string",
    )
    stats: dict = {}
    sc.setJobGroup("bpe-batched", "bpe-batched")
    try:
        got, _ = bpe_train(docs, iters=8, mode="distributed", _stats=stats)
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("bpe-batched"))
    want = _reference_bpe(_batchy_corpus(), iters=8)
    assert got == want
    assert len(got) == 8
    assert stats["rounds"] == 1, stats
    # serial per-merge design paid >= 2 jobs/merge (argmax + checkpoint:
    # >= 16 jobs here, plus vocab build); batched pays a fixed vocab-build
    # + per-ROUND cost — measured 9 jobs for the whole 8-merge run
    assert jobs <= 10, jobs


def _checkpoint_files(sc) -> set[str]:
    root = sc._jsc.sc().getCheckpointDir().get().removeprefix("file:")
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def test_auto_mode_writes_no_checkpoint(spark):
    """Auto mode decides local vs distributed from one bounded collect of
    the vocabulary, which also feeds local learning: nothing is
    checkpointed on the local path."""
    from flink_estimator_spark.session import ensure_checkpoint_dir

    sc = spark.sparkContext
    ensure_checkpoint_dir(sc)
    docs = t(spark, SF_DIR, "documents")
    before = _checkpoint_files(sc)
    stats: dict = {}
    merges, _ = bpe_train(docs, iters=6, _stats=stats)
    assert stats["rounds"] == 0, stats
    assert _checkpoint_files(sc) - before == set()
    texts = [r["text"] for r in docs.select("text").collect()]
    assert merges == _reference_bpe(texts, iters=6)


def test_auto_mode_over_cap_goes_distributed(spark):
    """A vocabulary above ``local_cap`` runs the distributed loop, whose
    merges still equal the reference trainer's."""
    docs = t(spark, SF_DIR, "documents")
    stats: dict = {}
    got, vocab = bpe_train(docs, iters=6, local_cap=5, _stats=stats)
    assert stats["rounds"] >= 1, stats
    assert vocab.count() > 5
    texts = [r["text"] for r in docs.select("text").collect()]
    assert got == _reference_bpe(texts, iters=6)


def test_merges_compose_into_multichar_tokens(spark):
    docs = t(spark, SF_DIR, "documents")
    merges, vocab = bpe_train(docs, iters=6)
    # later merges may consume earlier merge outputs (that is the point of
    # BPE); assert the final vocabulary actually contains a token longer
    # than one character + marker
    longest = max(
        (s for r in vocab.select("syms").collect() for s in r["syms"]),
        key=len,
    )
    assert len(longest.replace("</w>", "")) >= 2


# --------------------------- encode (application) ---------------------------


def _py_replace_chain(word: str, merges) -> int:
    """Token count via the SQL trick in pure Python: bracket-delimited
    symbols + str.replace per ordered merge (Python's str.replace is also
    leftmost non-overlapping, resuming after each replacement)."""
    s = "(" + ")(".join(list(word)) + ")(</w>)"
    for a, b in merges:
        s = s.replace(f"({a})({b})", f"({a}{b})")
    return s.count("(")


def test_replace_chain_equals_greedy_apply():
    """The replace-chain realization of BPE application (what the oracle'd
    q_bpe_encode_cert runs on both engines) must equal true greedy BPE
    (_greedy_apply) — including repeat-heavy and chain-heavy words."""
    from flink_estimator_spark.operators.bpe import CERT_MERGES, _greedy_apply

    adversarial = [
        "the", "thethe", "another", "singing", "ingoing", "error",
        "onion", "anand", "sss", "ert", "inin", "ananan", "x",
        "interesting", "thermodynamics", "ooooo", "eeee",
    ]
    for w in adversarial:
        assert _py_replace_chain(w, CERT_MERGES) == len(
            _greedy_apply(list(w) + ["</w>"], CERT_MERGES)
        ), w
    # repeated-symbol stress with a self-feeding merge table
    nasty = [("a", "a"), ("aa", "aa"), ("aaaa", "a")]
    for w in ["a", "aa", "aaa", "aaaa", "aaaaa", "aaaaaa", "aaaaaaa"]:
        assert _py_replace_chain(w, nasty) == len(
            _greedy_apply(list(w) + ["</w>"], nasty)
        ), w


def test_encode_cert_matches_production_encoder(spark):
    """q_bpe_encode_cert (pure built-in replace chain, oracle'd) and
    bpe_encode (Arrow mapInPandas with word memoization — the production
    path for learned merge tables) must agree row-for-row."""
    from flink_estimator_spark.operators.bpe import (
        CERT_MERGES,
        bpe_encode,
        q_bpe_encode_cert,
    )

    docs = t(spark, SF_DIR, "documents")
    cert = q_bpe_encode_cert(spark, SF_DIR).collect()
    prod = bpe_encode(docs, CERT_MERGES).orderBy("doc_id").collect()
    assert cert == prod


def test_encode_with_learned_merges(spark):
    """End-to-end tokenizer lifecycle: train on the corpus, then encode the
    corpus with the learned merges — encoding must be deterministic and
    strictly compress (tokens <= chars+1 per word, with at least one merge
    actually firing on the fixture)."""
    from flink_estimator_spark.operators.bpe import bpe_encode, bpe_train

    docs = t(spark, SF_DIR, "documents")
    merges, _ = bpe_train(docs, iters=6)
    pairs = [(a, b) for a, b, _n in merges]
    enc = bpe_encode(docs, pairs).orderBy("doc_id")
    rows = enc.collect()
    assert rows == bpe_encode(docs, pairs).orderBy("doc_id").collect()
    assert all(r["n_tokens"] <= r["n_chars"] + r["n_words"] for r in rows)
    assert any(r["n_tokens"] < r["n_chars"] + r["n_words"] for r in rows)
