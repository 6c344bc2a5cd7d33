"""Regenerate ``expected.json``: the sampled op list of each query family and
the digest (row count + order-insensitive row hash) of every op's result on the
sf0.1 fixture.

    python3 perfbench/make_expected.py

Each Spark digest is cross-checked against the query's DuckDB oracle on the
same parquet files wherever the query has one, or else against the
plain-Python reference the test suite holds for it; a disagreement aborts
before anything is written.  Plane A needs no file: its rows come from the run's
seed and are checked against ``estimate_scenario`` at run time.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from ops import digest, family  # noqa: E402
from run import EXPECTED, SF_DIR, fit_box  # noqa: E402

# A fixed sample of each family, small enough that a pass takes about ten
# seconds on 4 cores, so every run measures whole passes of the same ops.
# q_bpe_merges is the cheapest llm query whose builder runs eager
# ``eager_checkpoint`` jobs (one per merge round), so the checkpoint
# directory and builder jobs are exercised.
SAMPLES = {
    "batch_sql": [
        "q3_shipping_priority", "q5_region_revenue", "q_pandas_udf_score",
    ],
    "llm_ops": ["q_bpe_merges"],
    "stream_gates": [
        "q_stream_dedup_runtime", "q_stream_session_runtime",
    ],
}


def bpe_reference(spark) -> dict:
    """q_bpe_merges from the single-machine BPE trainer in tests/test_bpe.py."""
    from tests.test_bpe import _reference_bpe

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    merges = _reference_bpe([r["text"] for r in docs.select("text").collect()], iters=6)
    return digest([(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
                  ["rank", "sym_a", "sym_b", "weighted_count"])


# queries with no DuckDB oracle -> their plain-Python reference digest
REFERENCES = {"q_bpe_merges": bpe_reference}


def main() -> int:
    fit_box()
    import duckdb

    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.session import get_spark
    from flink_estimator_spark.sources.tables import TABLES

    spark = get_spark(app_name="perfbench-expected")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(SF_DIR, t + '.parquet')}')")
    out: dict[str, dict] = {}
    bad = []
    try:
        for fam, names in SAMPLES.items():
            members = set(family(fam))
            out[fam] = {}
            for name in names:
                if name not in members:
                    bad.append(f"{name} is not in the {fam} family")
                    continue
                spec = QUERIES[name]
                df = spec.builder(spark, SF_DIR)
                got = digest([tuple(r) for r in df.collect()], df.columns)
                if spec.oracle:
                    res = con.execute(spec.oracle)
                    want = digest(res.fetchall(), [d[0] for d in res.description])
                    oracle = "duckdb"
                else:
                    want = REFERENCES[name](spark)
                    oracle = "reference"
                if want != got:
                    bad.append(f"{name}: spark {got} != {oracle} {want}")
                    oracle += f" MISMATCH {want}"
                else:
                    oracle += " match"
                print(f"{fam:13} {name:36} rows={got['rows']:<7} "
                      f"hash={got['hash']} oracle={oracle}", flush=True)
                out[fam][name] = got
    finally:
        spark.stop()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(EXPECTED, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
