"""Corpus-cleaning operators: PII redaction, deterministic training order,
canonical dedup survivors, and label-balance weights.

These close the loop from "scored corpus" to "training-ready corpus":

* **PII redaction** — regex scrub of emails / IPv4s / phone numbers with a
  leak-check aggregate.  Pure column expressions (``regexp_replace`` /
  ``regexp_count``) — JVM-side, whole-stage codegen, no UDF; at 100 TB this
  is a map-only pass with no shuffle except the final per-source rollup.
  The fixture corpus contains no PII, so the query *synthesizes* a
  deterministic PII suffix per document from its own columns before
  scrubbing — honest about the data while still exercising (and
  oracle-verifying) every pattern end-to-end, including nonzero counts.
* **training order** — the per-epoch document shuffle: a seeded hash order
  is an unbiased shuffle that every engine reproduces.  Sharded (hash %
  n_shards) so ordering windows are per-shard, never a global single-task
  sort; at scale each shard is one writer task's worth of data.
* **dedup keep-list** — the "so what" of near-dup clustering: per cluster
  keep the canonical survivor (min doc id), drop the rest; reported as
  per-source kept/dropped counts.
* **class weights** — inverse-frequency label weights over the embedding
  table, the standard imbalance correction for a labeled training set.

Reference scope note: the reference models workload taxonomy only
(`/root/reference/src/flink_estimator/estimation.py`); these operators are
part of the round-2 extension surface (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..plans._helpers import JACCARD_CLUSTER_CTES, spread, t, word_ngrams
from ..plans.registry import query
from .dedup import connected_components, jaccard_pairs

# Patterns restricted to the RE2-compatible subset (no lookaround, no
# backrefs) so Spark's Java regex and DuckDB's RE2 match identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"

_PII = [(EMAIL_RE, "<EMAIL>"), (IPV4_RE, "<IP>"), (PHONE_RE, "<PHONE>")]


def redact_pii(col: Column) -> Column:
    """Chain of global regexp_replace passes, one per pattern class.

    Order matters: emails before IPv4 (an email's domain can contain a
    dotted quad; scrubbing emails first keeps the classes disjoint)."""
    out = col
    for pat, token in _PII:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    return {
        "emails": F.regexp_count(col, F.lit(EMAIL_RE)).cast("long"),
        "ips": F.regexp_count(col, F.lit(IPV4_RE)).cast("long"),
        "phones": F.regexp_count(col, F.lit(PHONE_RE)).cast("long"),
    }


@query(
    "q_pii_redaction",
    oracle=rf"""
        WITH synth AS (
            SELECT doc_id, source,
                   text || ' contact ' || source || '@example.com from 10.0.'
                        || CAST(doc_id % 200 AS VARCHAR) || '.7 call +1-555-'
                        || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                        || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
                        AS text
            FROM documents
        ),
        scrubbed AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(text, '{EMAIL_RE}')) AS emails,
                   len(regexp_extract_all(text, '{IPV4_RE}')) AS ips,
                   len(regexp_extract_all(text, '{PHONE_RE}')) AS phones,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                           '{IPV4_RE}', '<IP>', 'g'),
                       '{PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM synth
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(emails) AS BIGINT) AS n_emails,
               CAST(sum(ips) AS BIGINT) AS n_ips,
               CAST(sum(phones) AS BIGINT) AS n_phones,
               CAST(sum(len(regexp_extract_all(redacted, '{EMAIL_RE}'))
                        + len(regexp_extract_all(redacted, '{IPV4_RE}'))
                        + len(regexp_extract_all(redacted, '{PHONE_RE}')))
                    AS BIGINT) AS n_leaks
        FROM scrubbed
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "cleaning", "pii"),
)
def q_pii_redaction(spark, sf_dir):
    """Per-source PII redaction counts with a leak check (must be 0 after
    the scrub).  The PII is synthesized deterministically from each doc's
    own columns — the fixture has none — so every pattern class is
    exercised with nonzero counts and the whole scrub is oracle-verified."""
    d = spread(t(spark, sf_dir, "documents"), "doc_id")
    synth = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact "), F.col("source"), F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 200).cast("string"), F.lit(".7 call +1-555-"),
            F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 13) % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    scrubbed = synth.select(
        "source",
        counts["emails"].alias("emails"),
        counts["ips"].alias("ips"),
        counts["phones"].alias("phones"),
        redact_pii(F.col("text")).alias("redacted"),
    )
    leak = pii_counts(F.col("redacted"))
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("emails").alias("n_emails"),
            F.sum("ips").alias("n_ips"),
            F.sum("phones").alias("n_phones"),
            F.sum(leak["emails"] + leak["ips"] + leak["phones"]).alias("n_leaks"),
        )
        .orderBy("source")
    )


N_SHARDS = 8


@query(
    "q_training_order",
    oracle=f"""
        SELECT shard, pos, doc_id FROM (
            SELECT CAST(('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT
                        % {N_SHARDS} AS BIGINT) AS shard,
                   row_number() OVER (
                       PARTITION BY ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT % {N_SHARDS}
                       ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos,
                   doc_id
            FROM documents
        )
        WHERE pos <= 5
        ORDER BY shard, pos
    """,
    tags=("llm", "mixing", "shuffle"),
)
def q_training_order(spark, sf_dir):
    """Deterministic per-epoch training order: shard by a seeded hash, order
    within each shard by the same hash — an unbiased, engine-reproducible
    shuffle of the corpus.  Changing the epoch seed reshuffles; the window
    is per-shard, so no global single-task sort exists at any corpus size
    (each shard is one writer task's slice).  First 5 docs per shard."""
    d = spread(t(spark, sf_dir, "documents"), "doc_id")
    h = F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % N_SHARDS)
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select(F.col("doc_id"), h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 5)
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos")
    )


@query(
    "q_dedup_keep_list",
    oracle=JACCARD_CLUSTER_CTES + """,
        labels AS (
            SELECT src AS doc_id, min(dst) AS cluster
            FROM reach GROUP BY src
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clustered,
               CAST(sum(CASE WHEN l.doc_id IS NOT NULL AND l.cluster != d.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN l.doc_id IS NULL OR l.cluster = d.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents d
        LEFT JOIN labels l ON d.doc_id = l.doc_id
        GROUP BY d.source
        ORDER BY d.source
    """,
    tags=("llm", "dedup", "keep-list", "iterative"),
)
def q_dedup_keep_list(spark, sf_dir):
    """Canonical-survivor selection over the near-dup clusters: per source,
    how many docs survive dedup (cluster minimum or unclustered singleton)
    and how many are dropped.  This is the keep-list a 100 TB dedup pass
    actually materializes; the cluster labels come from the same
    ``connected_components`` operator as ``q_dedup_clusters``, left-joined
    back to the corpus.  No broadcast hint: over the operator's edge cap
    the labels grow with the corpus's clustered share, and under it they
    are a ``LocalTableScan`` whose size the planner already knows."""
    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    labels = connected_components(pairs.select("id_a", "id_b"))
    keep = F.col("cluster").isNull() | (F.col("cluster") == F.col("doc_id"))
    return (
        docs.join(labels, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("cluster").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_clustered"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "q_class_weights",
    oracle="""
        SELECT label,
               count(*) AS n,
               CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
                   / ((SELECT count(DISTINCT label) FROM embeddings) * count(*))
                   AS weight
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    tags=("llm", "labels", "weights"),
)
def q_class_weights(spark, sf_dir):
    """Inverse-frequency class weights over the labeled embedding table
    (weight = N / (n_classes * n_label), mean-1 normalized) — the standard
    imbalance correction computed as one aggregate plus two broadcast
    scalar subqueries; integer-exact inputs make the double division
    engine-identical."""
    emb = t(spark, sf_dir, "embeddings")
    totals = emb.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("label").alias("n_classes"),
    )
    return (
        emb.groupBy("label")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(totals))
        .select(
            "label",
            "n",
            (
                F.col("n_total").cast("double")
                / (F.col("n_classes") * F.col("n"))
            ).alias("weight"),
        )
        .orderBy("label")
    )


@query(
    "q_ngram_decontamination",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        idx AS (
            SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 4)) AS i
            FROM toks),
        grams AS (
            SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
            FROM idx),
        bench_g AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id < 20),
        corpus_g AS (SELECT DISTINCT g FROM grams WHERE doc_id >= 20)
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               CAST(sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS overlap_rate
        FROM bench_g b LEFT JOIN corpus_g c ON b.g = c.g
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
    tags=("llm", "cleaning", "decontamination", "ngram"),
)
def q_ngram_decontamination(spark, sf_dir):
    """N-gram decontamination at benchmark-doc granularity (the carbon-copy
    screen): docs 0-19 stand in for an eval set, and each one's distinct
    5-gram overlap rate against the training corpus (docs 20+) is the
    contamination signal a pipeline thresholds on — vs
    q_contamination_screen's fixed-phrase existence check, this measures
    HOW MUCH of each eval doc leaks.  Grams build inline from one
    tokenize (slice over a sequence — no per-gram explode of the text),
    both sides dedup before the join, and the probe is a left join on the
    gram; at scale the gram string is xxhash64'd first so the shuffle
    carries 8-byte keys (the shingle_df discipline), kept as strings here
    only for oracle comparability."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = spread(d, "doc_id").select(
        "doc_id",
        F.explode(word_ngrams(tk, 5)).alias("g"),
    )
    bench_g = grams.filter(F.col("doc_id") < 20).distinct()
    corpus_g = (
        grams.filter(F.col("doc_id") >= 20).select("g").distinct()
        .withColumn("_hit", F.lit(1))
    )
    hit = F.sum(F.col("_hit").isNotNull().cast("long"))
    return (
        bench_g.join(corpus_g, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            hit.alias("n_hit"),
            (hit.cast("double") / F.count("*")).alias("overlap_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_forget_cascade",
    oracle="""
        WITH forget AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        o_gone AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM forget))
        SELECT tbl, n_before, n_removed, n_after FROM (
            SELECT 'customer' AS tbl,
                   CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
                   CAST((SELECT count(*) FROM forget) AS BIGINT) AS n_removed,
                   CAST((SELECT count(*) FROM customer) -
                        (SELECT count(*) FROM forget) AS BIGINT) AS n_after
            UNION ALL
            SELECT 'orders',
                   CAST((SELECT count(*) FROM orders) AS BIGINT),
                   CAST((SELECT count(*) FROM o_gone) AS BIGINT),
                   CAST((SELECT count(*) FROM orders) -
                        (SELECT count(*) FROM o_gone) AS BIGINT)
            UNION ALL
            SELECT 'lineitem',
                   CAST((SELECT count(*) FROM lineitem) AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IN (SELECT o_orderkey FROM o_gone))
                        AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem) -
                        (SELECT count(*) FROM lineitem
                         WHERE l_orderkey IN (SELECT o_orderkey FROM o_gone))
                        AS BIGINT)
        ) ORDER BY tbl
    """,
    tags=("llm", "cleaning", "compliance", "cascade-delete"),
)
def q_forget_cascade(spark, sf_dir):
    """Right-to-be-forgotten cascade audit: a forget-list of customers
    (custkey % 97 == 0 stands in for deletion requests) propagated through
    the FK graph — orders of forgotten customers, line items of those
    orders — with per-table before/removed/after counts the compliance
    job must reconcile (after + removed == before, and downstream removal
    is derived ONLY from upstream keys).  Each hop is one semi join: the
    forget-list broadcasts, the orders-of-forgotten key set broadcasts to
    prune lineitem — the deletes themselves would be the same semi/anti
    joins writing back partition-overwrites (the scd/keep-list machinery).
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    forget = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o_gone = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_gone = li.join(
        F.broadcast(o_gone), li.l_orderkey == o_gone.o_orderkey, "left_semi"
    )

    def stats(tbl, full_df, gone_df):
        full = full_df.agg(F.count("*").alias("n_before"))
        gone = gone_df.agg(F.count("*").alias("n_removed"))
        return (
            full.crossJoin(gone)
            .select(
                F.lit(tbl).alias("tbl"),
                "n_before",
                "n_removed",
                (F.col("n_before") - F.col("n_removed")).alias("n_after"),
            )
        )

    out = (
        stats("customer", cust, forget)
        .unionByName(stats("orders", orders, o_gone))
        .unionByName(stats("lineitem", li, li_gone))
    )
    return out.orderBy("tbl")


# ---------------------------------------------------------------------------
# Canonical-URL normalization — the crawl-provenance screen (VERDICT r6
# stretch item): the same page crawled as https://WWW.Host.com:443/p/?id=1#x
# and http://host.com/p?utm_source=f&id=1 must collapse to ONE canonical
# URL before per-domain dedup rates mean anything.  Pure column
# expressions (regex extract/replace + higher-order array ops) — JVM-side
# codegen, no UDF; at 100 TB a map-only pass plus one per-source hash agg.
# ---------------------------------------------------------------------------

# tracking params dropped by canonicalization (RE2-safe, engine-portable)
_TRACKING_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="


def canonicalize_url(col: Column) -> Column:
    """Canonical form of a URL, as a composition of engine-portable steps:

    1. strip the fragment (``#...``);
    2. lowercase the scheme and authority; drop a leading ``www.`` and an
       explicit default port (``:80``/``:443``);
    3. strip trailing slashes from the path;
    4. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``,
       ``ref``), sort the survivors, and rejoin — param ORDER never
       distinguishes two URLs.

    Every step is a regex/array primitive with an exact DuckDB equivalent
    (regexp_extract / regexp_replace / string_split + list_filter +
    list_sort), so the oracle replays the normalization bit-for-bit."""
    u = F.regexp_replace(col, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([^:]+)://", 1))
    auth = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(u, r"^[^:]+://([^/?]+)", 1)),
            r"^www\.", ""),
        r":(80|443)$", "")
    rest = F.regexp_extract(u, r"^[^:]+://[^/?]+(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), "/+$", "")
    qs = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
        )
    )
    cq = F.array_join(params, "&")
    return F.concat(
        scheme, F.lit("://"), auth, path,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")),
    )


@query(
    "q_url_dedup_rate",
    oracle=r"""
        WITH urls AS (
            SELECT doc_id, source,
                   doc_id // 80 AS g,
                   (doc_id // 20) % 4 AS v
            FROM documents
        ),
        raw AS (
            SELECT doc_id, source,
                   CASE v
                     WHEN 0 THEN 'https://www.' || source ||
                                 '.Example.COM/page/' || g ||
                                 '?utm_source=a&id=' || g
                     WHEN 1 THEN 'https://' || source ||
                                 '.example.com/page/' || g ||
                                 '?id=' || g || '&utm_campaign=x'
                     WHEN 2 THEN 'HTTPS://' || source ||
                                 '.example.com:443/page/' || g ||
                                 '?id=' || g
                     ELSE 'https://' || source || '.example.com/page/' ||
                          g || '/?id=' || g || '#frag'
                   END AS url
            FROM urls
        ),
        canon AS (
            SELECT doc_id, source, url,
                   lower(regexp_extract(nofrag, '^([^:]+)://', 1)) || '://'
                   || regexp_replace(regexp_replace(
                          lower(regexp_extract(nofrag, '^[^:]+://([^/?]+)', 1)),
                          '^www\.', ''), ':(80|443)$', '')
                   || regexp_replace(
                          regexp_extract(regexp_extract(
                              nofrag, '^[^:]+://[^/?]+(.*)$', 1),
                              '^([^?]*)', 1), '/+$', '')
                   || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
                       AS canonical
            FROM (
                SELECT doc_id, source, url, nofrag,
                       array_to_string(list_sort(list_filter(
                           string_split(regexp_extract(
                               regexp_extract(nofrag,
                                   '^[^:]+://[^/?]+(.*)$', 1),
                               '\?(.*)$', 1), '&'),
                           p -> p <> '' AND NOT regexp_matches(
                               p, '^(utm_[^=]*|fbclid|gclid|ref)='))),
                           '&') AS cq
                FROM (SELECT doc_id, source, url,
                             regexp_replace(url, '#.*$', '') AS nofrag
                      FROM raw)
            )
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
               CAST((count(*) - count(DISTINCT canonical)) * 1000000
                    // count(*) AS BIGINT) AS dup_ppm
        FROM canon
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "cleaning", "url", "provenance", "dedup"),
)
def q_url_dedup_rate(spark, sf_dir):
    """Per-source canonical-URL dedup rate — the crawl-provenance signal
    the source-forensics family (q_source_overlap_matrix, keep-lists)
    still lacked: how much of a source's URL list is the SAME page under
    cosmetic re-spellings.  The fixture carries no URL column, so the
    query derives a deterministic URL per document from its own columns
    (the PII-redaction precedent): four spelling variants per page group
    — www + uppercase host + tracking params / param-order + tracking /
    explicit :443 + uppercase scheme / trailing slash + fragment — that
    must all collapse under :func:`canonicalize_url`.  The oracle replays
    both the derivation and every normalization step, so a wrong regex,
    a missed tracking param, or an unsorted param list goes red.

    Scale: map-only canonicalization (whole-stage codegen, no UDF), one
    hash aggregate keyed by source — distinct-count state is bounded by
    pages per source, never raw rows."""
    docs = t(spark, sf_dir, "documents")
    g = F.expr("doc_id DIV 80")
    v = F.expr("(doc_id DIV 20) % 4")
    gs = g.cast("string")
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://www."), F.col("source"),
            F.lit(".Example.COM/page/"), gs,
            F.lit("?utm_source=a&id="), gs))
        .when(v == 1, F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/page/"), gs,
            F.lit("?id="), gs, F.lit("&utm_campaign=x")))
        .when(v == 2, F.concat(
            F.lit("HTTPS://"), F.col("source"),
            F.lit(".example.com:443/page/"), gs,
            F.lit("?id="), gs))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/page/"), gs,
            F.lit("/?id="), gs, F.lit("#frag")))
    )
    canon = docs.select(
        "source", canonicalize_url(url).alias("canonical")
    )
    n = F.count("*")
    c = F.countDistinct("canonical")
    return (
        canon.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_urls"),
            c.cast("bigint").alias("n_canonical"),
            F.floor((n - c) * 1_000_000 / n).cast("bigint").alias("dup_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# k-anonymity screen (Sweeney 2002) — the structured-release privacy gate
# that complements the free-text PII scrub: before any per-document
# metadata table ships (doc attributes, provenance joins), every
# quasi-identifier combination must cover at least k records, or those
# rows are suppressed / the QI set generalized.
# ---------------------------------------------------------------------------

_K_ANON = 5


def kanonymity_census(
    df: DataFrame, qi_levels: list[tuple[str, list[Column]]], k: int = _K_ANON
) -> DataFrame:
    """Suppression census across a GENERALIZATION LADDER: for each level
    (a name plus its quasi-identifier grouping columns), count the QI
    equivalence classes, the classes under ``k``, and the rows those
    small classes would suppress — the standard k-anonymity trade-off
    curve (more generalization -> fewer suppressed rows -> less utility).

    Scale: one hash aggregate per level over the QI key (partial
    map-side combine), then a metadata-sized census agg — never a
    self-join, state bounded by |QI classes|."""
    outs = []
    for lvl_no, (name, cols) in enumerate(qi_levels):
        g = df.groupBy(*cols).agg(F.count("*").alias("c"))
        outs.append(
            g.agg(
                F.lit(lvl_no).cast("bigint").alias("level"),
                F.lit(name).alias("qi"),
                F.count("*").cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("c") < k, 1).otherwise(0))
                .cast("bigint")
                .alias("n_small_groups"),
                F.sum(F.when(F.col("c") < k, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("rows_suppressed"),
                F.sum(F.when(F.col("c") >= k, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("rows_released"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "q_kanonymity",
    oracle=f"""
        WITH base AS (
            SELECT lang, source, n_chars // 200 AS len_b
            FROM documents
        ),
        g0 AS (SELECT lang, source, len_b, count(*) AS c
               FROM base GROUP BY 1, 2, 3),
        g1 AS (SELECT lang, len_b, count(*) AS c FROM base GROUP BY 1, 2),
        g2 AS (SELECT lang, count(*) AS c FROM base GROUP BY 1)
        SELECT CAST(level AS BIGINT) AS level, qi,
               CAST(n_groups AS BIGINT) AS n_groups,
               CAST(n_small_groups AS BIGINT) AS n_small_groups,
               CAST(rows_suppressed AS BIGINT) AS rows_suppressed,
               CAST(rows_released AS BIGINT) AS rows_released
        FROM (
            SELECT 0 AS level, 'lang,source,len_b' AS qi,
                   count(*) AS n_groups,
                   sum(CASE WHEN c < {_K_ANON} THEN 1 ELSE 0 END)
                       AS n_small_groups,
                   sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END)
                       AS rows_suppressed,
                   sum(CASE WHEN c >= {_K_ANON} THEN c ELSE 0 END)
                       AS rows_released
            FROM g0
            UNION ALL
            SELECT 1, 'lang,len_b', count(*),
                   sum(CASE WHEN c < {_K_ANON} THEN 1 ELSE 0 END),
                   sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END),
                   sum(CASE WHEN c >= {_K_ANON} THEN c ELSE 0 END)
            FROM g1
            UNION ALL
            SELECT 2, 'lang', count(*),
                   sum(CASE WHEN c < {_K_ANON} THEN 1 ELSE 0 END),
                   sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END),
                   sum(CASE WHEN c >= {_K_ANON} THEN c ELSE 0 END)
            FROM g2)
        ORDER BY level
    """,
    tags=("llm", "cleaning", "privacy", "k-anonymity"),
)
def q_kanonymity(spark, sf_dir):
    """k-anonymity suppression census over the documents metadata table's
    generalization ladder — (lang, source, 200-char length bucket) ->
    (lang, length bucket) -> (lang) — with k={_K_ANON}: how many QI
    equivalence classes exist per level, how many fall under k, and the
    row counts a suppress-small-classes release would drop vs ship.  The
    per-level trade-off curve is the decision input for choosing the
    release schema; the free-text complement is q_pii_redaction.

    Scale: three hash aggregates over progressively coarser keys (each a
    map-side-combined groupBy) + metadata-sized census rows — no joins,
    no windows."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "lang", "source", F.expr("n_chars DIV 200").alias("len_b")
    )
    return kanonymity_census(
        base,
        [
            ("lang,source,len_b", [F.col("lang"), F.col("source"), F.col("len_b")]),
            ("lang,len_b", [F.col("lang"), F.col("len_b")]),
            ("lang", [F.col("lang")]),
        ],
    ).orderBy("level")


_L_DIV = 3


@query(
    "q_ldiversity",
    oracle=f"""
        WITH base AS (
            SELECT lang, n_chars // 50 AS len_b, source
            FROM documents
        ),
        g0 AS (SELECT lang, len_b, count(*) AS c,
                      count(DISTINCT source) AS l
               FROM base GROUP BY 1, 2),
        g1 AS (SELECT len_b, count(*) AS c, count(DISTINCT source) AS l
               FROM base GROUP BY 1),
        g2 AS (SELECT lang, count(*) AS c, count(DISTINCT source) AS l
               FROM base GROUP BY 1)
        SELECT CAST(level AS BIGINT) AS level, qi,
               CAST(n_groups AS BIGINT) AS n_groups,
               CAST(n_low_diversity AS BIGINT) AS n_low_diversity,
               CAST(rows_suppressed AS BIGINT) AS rows_suppressed,
               CAST(rows_released AS BIGINT) AS rows_released,
               CAST(min_l AS BIGINT) AS min_l
        FROM (
            SELECT 0 AS level, 'lang,len_b' AS qi, count(*) AS n_groups,
                   sum(CASE WHEN l < {_L_DIV} THEN 1 ELSE 0 END)
                       AS n_low_diversity,
                   sum(CASE WHEN l < {_L_DIV} THEN c ELSE 0 END)
                       AS rows_suppressed,
                   sum(CASE WHEN l >= {_L_DIV} THEN c ELSE 0 END)
                       AS rows_released,
                   min(l) AS min_l
            FROM g0
            UNION ALL
            SELECT 1, 'len_b', count(*),
                   sum(CASE WHEN l < {_L_DIV} THEN 1 ELSE 0 END),
                   sum(CASE WHEN l < {_L_DIV} THEN c ELSE 0 END),
                   sum(CASE WHEN l >= {_L_DIV} THEN c ELSE 0 END),
                   min(l)
            FROM g1
            UNION ALL
            SELECT 2, 'lang', count(*),
                   sum(CASE WHEN l < {_L_DIV} THEN 1 ELSE 0 END),
                   sum(CASE WHEN l < {_L_DIV} THEN c ELSE 0 END),
                   sum(CASE WHEN l >= {_L_DIV} THEN c ELSE 0 END),
                   min(l)
            FROM g2)
        ORDER BY level
    """,
    tags=("llm", "cleaning", "privacy", "l-diversity"),
)
def q_ldiversity(spark, sf_dir):
    """l-diversity census (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a QI class can hold ≥ k rows yet leak the
    sensitive attribute outright if every row carries the SAME sensitive
    value (homogeneity attack).  Treating `source` as the sensitive
    attribute, each level of the generalization ladder reports how many
    QI classes hold < l={_L_DIV} DISTINCT sensitive values, the rows a
    suppress-low-diversity release would drop vs ship, and the achieved
    min-l — the companion trade-off curve to q_kanonymity's size census.

    Scale: one hash aggregate per level (count + distinct-count over a
    low-cardinality sensitive column, map-side combined) + metadata-sized
    census rows — no joins, no windows."""
    docs = t(spark, sf_dir, "documents")
    # 50-char buckets (finer than q_kanonymity's 200): at this grain some
    # (lang, len_b) classes genuinely hold < l sources at every fixture SF,
    # so the census shows the real suppress-vs-generalize trade-off
    base = docs.select(
        "lang", F.expr("n_chars DIV 50").alias("len_b"), "source"
    )
    levels = [
        ("lang,len_b", [F.col("lang"), F.col("len_b")]),
        ("len_b", [F.col("len_b")]),
        ("lang", [F.col("lang")]),
    ]
    outs = []
    for lvl_no, (name, cols) in enumerate(levels):
        g = base.groupBy(*cols).agg(
            F.count("*").alias("c"),
            F.countDistinct("source").alias("l"),
        )
        outs.append(
            g.agg(
                F.lit(lvl_no).cast("bigint").alias("level"),
                F.lit(name).alias("qi"),
                F.count("*").cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("l") < _L_DIV, 1).otherwise(0))
                .cast("bigint")
                .alias("n_low_diversity"),
                F.sum(F.when(F.col("l") < _L_DIV, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("rows_suppressed"),
                F.sum(F.when(F.col("l") >= _L_DIV, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("rows_released"),
                F.min("l").cast("bigint").alias("min_l"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")
