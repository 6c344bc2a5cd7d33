"""Distributed BPE tokenizer training — the merge-learning loop behind
GPT/Llama-family tokenizers, expressed Spark-first.

The scale decomposition that makes BPE distributable: the corpus reduces
ONCE to a (word, freq) vocabulary table (orders of magnitude smaller than
the token stream — this is the only pass over raw text), and every
learning iteration is then

  1. a relational weighted bigram count over the symbolized vocabulary
     (explode adjacent symbol pairs x word freq; partial-combined
     aggregate, so only (pair, count) partials shuffle),
  2. a driver-side read of scalar control data (top-K candidate pairs +
     per-symbol neighbor maxima — like the convergence counts in connected
     components / k-means) from which a BATCH of provably
     sequential-equivalent merges is accepted (``_accept_batch``), and
  3. a vocabulary-local application of the whole batch (one Arrow-batched
     pandas UDF pass over the vocab table — per-word, no shuffle, and
     bounded by |vocab| not corpus size; this is the step real trainers
     also do in-memory).

Ties break (count desc, pair lexicographic) so the learned merge list is
deterministic in any engine/partitioning.  The differential oracle is a
pure-Python reference trainer over the same vocabulary
(tests/test_bpe.py) — the merge table must match exactly.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans._helpers import eager_checkpoint, local_df, spread, t
from ..plans.registry import query

_WORD_RE = r"\s+"

SYMS_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("syms", T.ArrayType(T.StringType()), False),
    ]
)


def build_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) vocabulary with end-of-word marker, symbolized to
    characters — the one pass over raw text."""
    words = (
        spread(df, "doc_id")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), _WORD_RE)
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # symbolize: characters + </w> end marker (the classic BPE alphabet)
    return words.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit("</w>"))
        ).alias("syms"),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = vocab.select(
        "freq",
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("a"),
                        F.element_at("syms", i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))


def _greedy_apply(syms: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Standard BPE application: each merge rule, in list order, applied
    greedily left-to-right over the symbol sequence — the one merge loop
    behind training (``_local_bpe``, ``_merge_pairs``) and encoding."""
    out = list(syms)
    for a, b in merges:
        nxt, i, n = [], 0, len(out)
        while i < n:
            if i + 1 < n and out[i] == a and out[i + 1] == b:
                nxt.append(a + b)
                i += 2
            else:
                nxt.append(out[i])
                i += 1
        out = nxt
    return out


def _merge_pairs(vocab: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Vocabulary-local application of an ORDERED merge batch: each (a, b)
    -> ab left-to-right (standard BPE greedy semantics), applied in list
    order per word within one Arrow pass — identical vocab state to
    applying the merges one at a time, at 1/len(pairs) the passes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            merged = [_greedy_apply(syms, pairs) for syms in pdf["syms"]]
            yield pd.DataFrame(
                {"word": pdf["word"], "freq": pdf["freq"], "syms": merged}
            )

    return vocab.mapInPandas(run, SYMS_SCHEMA)


def _accept_batch(
    top_rows: list[tuple[str, str, int]],
    left_max: dict[str, int],
    right_max: dict[str, int],
) -> list[tuple[str, str, int]]:
    """Longest prefix of the (count desc, pair lex)-sorted candidates that
    is PROVABLY the next merges sequential BPE would pick — the exactness
    core of batched BPE (the classic parallel-tokenizer-training trick,
    made conservative enough to keep the differential oracle bit-exact).

    Candidate j joins the batch iff

    * its symbols are disjoint from every earlier accepted merge's symbols
      AND their concatenations (so its count cannot have been decremented,
      and it cannot alias a symbol an earlier merge creates), and
    * its count strictly exceeds every earlier accepted merge's new-pair
      bound B_i = min(n_i, max(left_max[a_i], right_max[b_i])): a merge
      (a,b)->ab only creates pairs (x,ab) with count <= count(x,a) <=
      left_max[a] and (ab,y) with count <= count(b,y) <= right_max[b]
      (each such occurrence consumes one (a,b) occurrence, hence also
      <= n_i) — so nothing a prior batch member creates can outrank
      candidate j, and ties (which lexicographic order could flip) are
      excluded by strictness.

    One more hazard closes the proof: if an accepted merge's concatenation
    a+b ALIASES a pre-existing symbol (string-equal token built by an
    earlier round via a different parse — "the" from ("t","he") vs
    ("th","e")), pre-existing pairs (x,ab)/(ab,y) GAIN count when the
    merge runs, and gained-count = old + created can exceed the cap bound
    (which only limits freshly-created pairs).  left_max/right_max key
    exactly the symbols participating in current pairs, so the test is a
    dict lookup: accept the aliasing candidate (it is still the argmax at
    its turn) but terminate the batch there.

    The first failing candidate stops the scan: acceptance must be a
    PREFIX, because a rejected candidate's count may change and re-rank
    everything after it."""
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    cap = -1
    for a, b, n in top_rows:
        if n < 2:
            break
        if accepted and (a in used or b in used or n <= cap):
            break
        accepted.append((a, b, n))
        ab = a + b
        if ab in left_max or ab in right_max:
            break  # alias of a live symbol: counts of (x,ab)/(ab,y) grow
        used.update((a, b, ab))
        cap = max(cap, min(n, max(left_max.get(a, 0), right_max.get(b, 0))))
    return accepted


# Driver-local cutover bound: the (word, freq) vocabulary row count below
# which merge learning runs in-process.  2M symbolized words is ~hundreds of
# MB — trivially driver-sized; real web corpora stay under it after the
# standard freq>=2 vocabulary threshold, and tokenizer trainers (the
# HuggingFace/SentencePiece lineage) are in-memory at exactly this point.
BPE_LOCAL_VOCAB_CAP = 2_000_000


def _local_bpe(
    words: list[tuple[list[str], int]], iters: int
) -> list[tuple[str, str, int]]:
    """Exact sequential BPE over an in-memory (syms, freq) vocabulary with
    INCREMENTAL pair-count maintenance: each merge touches only the words
    that contain the merged pair (an inverted where-used index), so a
    k-merge run costs O(touched words), not O(k x vocab).  Identical merge
    list, tie-break (count desc, pair lexicographic), and stop rule as the
    distributed loop — the differential in tests/test_bpe.py holds both to
    the same reference."""
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, f) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str, int]] = []
    for _ in range(iters):
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b, int(n)))
        for wi in list(where.get((a, b), ())):
            syms, f = words[wi]
            # where-sets are cleaned lazily; skip stale entries
            if not any(
                syms[i] == a and syms[i + 1] == b for i in range(len(syms) - 1)
            ):
                continue
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                c = counts[p] - f
                if c <= 0:
                    del counts[p]
                    where.pop(p, None)
                else:
                    counts[p] = c
            out = _greedy_apply(syms, [(a, b)])
            words[wi] = (out, f)
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                counts[p] = counts.get(p, 0) + f
                where.setdefault(p, set()).add(wi)
    return merges


# Top-K candidate window per batched round — bounds the acceptance scan,
# not correctness (the accepted prefix is provably sequential-equivalent
# whatever K is; a bigger K only lets favorable distributions batch more).
_BPE_BATCH_K = 16


def bpe_train(
    df: DataFrame,
    iters: int = 8,
    text_col: str = "text",
    mode: str = "auto",
    local_cap: int = BPE_LOCAL_VOCAB_CAP,
    _stats: dict | None = None,
):
    """Learn `iters` BPE merges; returns (merge list, final vocab DF).

    The corpus always reduces to the (word, freq) vocabulary distributed
    (the only pass over raw text).  Merge learning then has two modes
    (r3 verdict item 5 — the per-merge driver round-trip was the
    wall-clock killer at real vocab sizes: a 50k-merge run would issue
    ~100k serial Spark jobs):

    * ``local`` — collect the vocabulary (bounded, NOT corpus-sized) and
      learn all merges in-process with incremental pair counts.  That
      collect is the only action, whatever the merge count, and nothing
      is checkpointed.  This is how production tokenizer trainers work
      once the word-count table exists.
    * ``distributed`` — the beyond-driver path, BATCHED (r4 verdict item 4:
      the per-merge one-job round-trip was serial in merge count at
      production tokenizer scale).  The vocabulary is checkpointed, then
      per ROUND: one fused job collects the top-K candidate pairs plus
      the per-symbol neighbor maxima (all three read the same bigram
      aggregate — ReusedExchange, scalar-sized output), the driver
      accepts the provably-sequential-equivalent prefix
      (``_accept_batch``), and ONE Arrow pass applies the whole batch.
      2 jobs per round regardless of batch size; acceptance is
      data-dependent (disjoint high-count pairs batch, chained ones — "th"
      then "th"+"e" — correctly serialize).
    * ``auto`` (default) — local iff the vocabulary fits ``local_cap``.
      One collect of at most ``local_cap + 1`` rows decides and, when it
      fits, feeds local learning directly; an over-cap vocabulary is
      recomputed by the distributed loop's checkpoint.

    ``_stats``, when a dict is passed, receives {"rounds": int} — test
    instrumentation for the sub-linearity claim.
    """
    spark = df.sparkSession
    vocab = build_vocab(df, text_col)
    if mode != "distributed":
        rows = (vocab.limit(local_cap + 1) if mode == "auto" else vocab).collect()
        if len(rows) <= local_cap or mode == "local":
            words = [(list(r["syms"]), int(r["freq"])) for r in rows]
            merges = _local_bpe(words, iters)
            final = local_df(
                spark,
                [(r["word"], r["freq"], syms) for r, (syms, _) in zip(rows, words)],
                SYMS_SCHEMA,
            )
            if _stats is not None:
                _stats["rounds"] = 0
            return merges, final
    vocab = eager_checkpoint(vocab)
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    while len(merges) < iters:
        pc = _pair_counts(vocab)
        # one action, three consumers of the same bigram aggregate: the
        # top-K candidates, max count(x, s) per right-symbol s, and
        # max count(s, y) per left-symbol s (symbol space is alphabet +
        # learned merges — scalar-sized, safe to collect)
        topk = pc.orderBy(F.desc("n"), "a", "b").limit(_BPE_BATCH_K).select(
            F.lit("T").alias("kind"), "a", "b", "n"
        )
        lmax = pc.groupBy("b").agg(F.max("n").alias("n")).select(
            F.lit("L").alias("kind"), F.lit(None).cast("string").alias("a"),
            "b", "n"
        )
        rmax = pc.groupBy("a").agg(F.max("n").alias("n")).select(
            F.lit("R").alias("kind"), "a",
            F.lit(None).cast("string").alias("b"), "n"
        )
        stats = topk.unionByName(lmax).unionByName(rmax).collect()
        top_rows = sorted(
            ((r["a"], r["b"], int(r["n"])) for r in stats if r["kind"] == "T"),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        left_max = {r["b"]: int(r["n"]) for r in stats if r["kind"] == "L"}
        right_max = {r["a"]: int(r["n"]) for r in stats if r["kind"] == "R"}
        batch = _accept_batch(top_rows, left_max, right_max)
        batch = batch[: iters - len(merges)]
        if not batch:
            break
        merges.extend(batch)
        rounds += 1
        # checkpoint each round: the merge is cheap but lineage would
        # otherwise grow one mapInPandas stage per round
        vocab = eager_checkpoint(
            _merge_pairs(vocab, [(a, b) for a, b, _ in batch])
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    return merges, vocab


@query(
    "q_bpe_merges",
    oracle=None,  # driver-loop argmax + Arrow merges -> rows-only check;
    # the hard differential is tests/test_bpe.py vs a pure-Python trainer
    tags=("llm", "tokenizer", "bpe", "iterative"),
)
def q_bpe_merges(spark, sf_dir):
    """First 6 learned BPE merges over the documents corpus (rank, pair,
    weighted count) — the tokenizer-training artifact itself."""
    merges, _ = bpe_train(t(spark, sf_dir, "documents"), iters=6)
    rows = [
        (i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)
    ]
    return local_df(
        spark, rows, "rank int, sym_a string, sym_b string, weighted_count bigint"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Tokenizer APPLICATION (encode) — the other half of the tokenizer lifecycle:
# after merges are learned, every training document must be encoded with them.
# ---------------------------------------------------------------------------

# Pinned certificate merge list (ordered!) — the oracle-able analogue of the
# pinned LSH hyperplanes: any fixed merge table is a valid tokenizer, and a
# literal one lets DuckDB replay the exact greedy application.  Chain-heavy
# on purpose (later merges consume earlier ones' outputs).
CERT_MERGES: list[tuple[str, str]] = [
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("i", "n"), ("in", "g"),
    ("a", "n"), ("o", "n"), ("e", "r"), ("er", "</w>"), ("an", "d"),
    ("s", "</w>"), ("o", "r"),
]


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a document corpus with a learned merge list — the production
    tokenizer-application pass: one Arrow-batched ``mapInPandas`` over the
    documents (embarrassingly parallel, no shuffle), with a per-batch
    word -> token-count memo (real corpora repeat words heavily, so each
    distinct word pays the merge loop once per batch).  Words are lowercased
    whitespace tokens restricted to ``[a-z]+`` (the certificate query's
    domain).  Returns (doc_id, n_words, n_chars, n_tokens)."""
    import re as _re

    word_ok = _re.compile(r"^[a-z]+$")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            n_words, n_chars, n_tokens = [], [], []
            for text in pdf[text_col]:
                words = [
                    w for w in _re.split(r"\s+", str(text).lower().strip())
                    if word_ok.match(w)
                ]
                toks = 0
                for w in words:
                    if w not in memo:
                        memo[w] = len(_greedy_apply(list(w) + ["</w>"], merges))
                    toks += memo[w]
                n_words.append(len(words))
                n_chars.append(sum(len(w) for w in words))
                n_tokens.append(toks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_chars": pd.Series(n_chars, dtype="int64"),
                    "n_tokens": pd.Series(n_tokens, dtype="int64"),
                }
            )

    return spread(df, id_col).mapInPandas(
        run, f"{id_col} long, n_words long, n_chars long, n_tokens long"
    )


def _cert_replace_chain_sql() -> str:
    """DuckDB expression: bracket-delimited symbols + the CERT_MERGES
    replace chain.  ``replace`` scans left-to-right non-overlapping and
    resumes after each replacement — with exact ``(sym)`` delimiters that
    is precisely greedy BPE application of one merge rule (verified against
    ``_greedy_apply`` in tests/test_bpe.py)."""
    expr = "'(' || array_to_string(string_split(word, ''), ')(') || ')(</w>)'"
    for a, b in CERT_MERGES:
        expr = f"replace({expr}, '({a})({b})', '({a}{b})')"
    return expr


def _cert_enc_ctes(key: str) -> str:
    """DuckDB CTEs of the certificate encode: ``words`` (``key``, word) for
    each ``[a-z]+`` word of the documents, ``enc`` adding its replace-chain
    encoding ``e`` (one ``(`` per token)."""
    return rf"""
        WITH words AS (
            SELECT {key}, word FROM (
                SELECT {key},
                       unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
                FROM documents)
            WHERE regexp_full_match(word, '[a-z]+')),
        enc AS (
            SELECT {key}, word,
                   {_cert_replace_chain_sql()} AS e
            FROM words)
"""


def _cert_per_word(spark, sf_dir, key: str) -> DataFrame:
    """(``key``, wlen, wtok): each ``[a-z]+`` word of the documents with its
    length and its token count under CERT_MERGES, encoded in built-in
    string functions (``(t)(h)(e</w>)`` symbols, one ``replace`` per
    ordered merge rule) so the encode is JVM codegen."""
    from functools import reduce

    d = t(spark, sf_dir, "documents")
    words = (
        spread(d, "doc_id")
        .select(
            key,
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), _WORD_RE)
            ).alias("word"),
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
    )
    sym = F.concat(
        F.lit("("), F.array_join(F.split("word", ""), ")("), F.lit(")(</w>)")
    )
    enc = reduce(
        lambda c, m: F.replace(c, F.lit(f"({m[0]})({m[1]})"), F.lit(f"({m[0]}{m[1]})")),
        CERT_MERGES,
        sym,
    )
    return words.select(
        key,
        F.length("word").alias("wlen"),
        (F.length(enc) - F.length(F.replace(enc, F.lit("("), F.lit("")))).alias("wtok"),
    )


@query(
    "q_bpe_encode_cert",
    oracle=_cert_enc_ctes("doc_id") + """
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(length(word)) AS BIGINT) AS n_chars,
               CAST(sum(length(e) - length(replace(e, '(', ''))) AS BIGINT)
                   AS n_tokens
        FROM enc
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "tokenizer", "bpe", "encode"),
)
def q_bpe_encode_cert(spark, sf_dir):
    """Tokenizer application with the pinned CERT_MERGES table: per
    document, word/char/token counts after greedy BPE encoding — entirely
    in built-in string functions, so the whole encode is JVM-side
    whole-stage-codegen AND replayable by the DuckDB oracle.

    The trick making encode relational: symbols are bracket-delimited
    (``(t)(h)(e</w>)``) and each ordered merge rule is one ``replace`` —
    leftmost non-overlapping scan == greedy BPE application (equivalence
    vs the Python encoder proven in tests/test_bpe.py).  The production
    path for learned (non-literal) merge tables is ``bpe_encode`` (Arrow
    pass with per-batch word memoization), differentially tested against
    this query on CERT_MERGES."""
    return (
        _cert_per_word(spark, sf_dir, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wlen").alias("n_chars"),
            F.sum("wtok").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_tokenizer_fertility",
    oracle=_cert_enc_ctes("source") + """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(length(word)) AS BIGINT) AS n_chars,
               CAST(sum(length(e) - length(replace(e, '(', ''))) AS BIGINT)
                   AS n_tokens,
               CAST(sum(length(e) - length(replace(e, '(', ''))) * 10000
                    // count(*) AS BIGINT) AS fertility_bp,
               CAST(sum(length(word)) * 10000
                    // sum(length(e) - length(replace(e, '(', '')))
                    AS BIGINT) AS chars_per_token_bp
        FROM enc
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "tokenizer", "bpe", "evaluation", "fertility"),
)
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer FERTILITY per source — the standard tokenizer-evaluation
    metric (mean tokens per word; chars-per-token is its compression
    dual): a tokenizer trained on one distribution fragments text from
    another, and per-source fertility is how a multilingual/multi-domain
    pipeline detects that before paying for it in effective context
    length.  Same relational encode as ``q_bpe_encode_cert`` (bracket
    symbols + ordered replace chain, JVM-codegen'd AND DuckDB-replayed),
    re-aggregated at source grain with exact basis-point ratios — the
    eval loop over the tokenizer family mirrors the classifier family's
    (train q_bpe_merges -> apply q_bpe_encode_cert -> EVALUATE here)."""
    return (
        _cert_per_word(spark, sf_dir, "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wlen").alias("n_chars"),
            F.sum("wtok").alias("n_tokens"),
            F.expr("sum(wtok) * 10000 DIV count(*)").alias("fertility_bp"),
            F.expr("sum(wlen) * 10000 DIV sum(wtok)").alias("chars_per_token_bp"),
        )
        .orderBy("source")
    )
