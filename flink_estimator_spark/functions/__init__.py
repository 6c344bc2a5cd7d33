"""Public column-function library — the engine's reusable scalar/array
expressions, gathered in one namespace (the Spark analogue of the
reference's helper surface plus the LLM-pipeline additions).

Most names here are column expressions (they return a ``pyspark.sql.Column``
built from JVM built-ins) or DataFrame operators (DataFrames in, a
DataFrame out, planned lazily).  A few are neither: ``eager_checkpoint``,
``materialize`` and ``bpe_train`` run Spark jobs when called (they pin a
DataFrame or learn a vocabulary), and ``batch_writer`` returns a
``foreachBatch`` write function.
See the defining modules for semantics and scale notes.
"""

from ..operators.similarity import cosine, cosine_pre, dot, norm  # noqa: F401
from ..operators.textstats import (  # noqa: F401
    fingerprint,
    lang_guess,
    quality_columns,
    stopword_hits,
    token_count,
    word_count,
)
from ..plans._helpers import as_double, dec, revenue_expr, spread  # noqa: F401


from ..operators.chunking import chunk_documents  # noqa: F401
from ..operators.fuzzy import fuzzy_pairs, fuzzy_pairs_general  # noqa: F401
from ..operators.sampling import ares_key, hash_bucket, sample_flag  # noqa: F401
from ..operators.sequence import match_sequence  # noqa: F401
from ..operators.similarity import kmeans_iterate  # noqa: F401
from ..operators.similarity import (  # noqa: F401
    adaptive_nlist,
    adaptive_planes,
    lsh_bucket,
)
from ..operators.skew import with_salt  # noqa: F401
from ..operators.cleaning import pii_counts, redact_pii  # noqa: F401
from ..operators.incremental import merge_rollups, partial_rollup  # noqa: F401
from ..operators.mixing import stratified_mix, pack_sequences  # noqa: F401
from ..sources.formats import compact  # noqa: F401
from ..streaming.sinks import batch_writer, idempotent_parquet_sink  # noqa: F401

from ..operators.similarity import quantization_bounds, quantize_int8  # noqa: F401
from ..operators.sketches import cms_bucket, cms_cells  # noqa: F401
from ..operators.skew import salted_agg, salted_broadcast_join, salted_shuffle_join  # noqa: F401
from ..operators.sampling import deterministic_sample  # noqa: F401
from ..operators.scd import scd2_from_log, scd2_merge  # noqa: F401
from ..streaming.joins import enrich_with_scd2  # noqa: F401
from ..operators.graph import copurchase_edges  # noqa: F401
from ..sources.formats import read_binary_files, write_clustered, write_zordered, zorder_value  # noqa: F401

from ..operators.bloom import bloom_build, bloom_might_contain, bloom_prefilter  # noqa: F401
from ..operators.dedup import prefix_jaccard_pairs  # noqa: F401
from ..sources.formats import read_xml, write_xml  # noqa: F401
from ..streaming.dedup import screen_against_ledger  # noqa: F401

from ..plans._helpers import eager_checkpoint, materialize  # noqa: F401
from ..operators.dedup import md5_word  # noqa: F401
from ..operators.similarity import label_centroids  # noqa: F401
from ..operators.bpe import bpe_train  # noqa: F401
from ..streaming.dedup import screen_docs_against_corpus  # noqa: F401
from ..streaming.curation import screen_embeddings_against_corpus  # noqa: F401
from ..streaming.sketches import windowed_cms_cells  # noqa: F401

from ..operators.bpe import bpe_encode, build_vocab  # noqa: F401
from ..operators.classifier import nb_tokens  # noqa: F401
from ..operators.pq import pq_codebooks_and_codes  # noqa: F401
from ..operators.similarity import embedding_near_dups_blocked, triplet_mining_ann  # noqa: F401
from ..streaming.stateful import count_window, running_totals  # noqa: F401
from ..operators.sequence import markov_sequence_scores  # noqa: F401
from ..operators.timeseries import ks_two_sample  # noqa: F401
