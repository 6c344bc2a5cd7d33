from .sources import documents_stream, events_stream  # noqa: F401
from .windows import cumulate_agg, hop_agg, multistage_agg, session_agg, session_agg_dynamic, tumble_agg, tumble_distinct_users  # noqa: F401
from .dedup import dedup_within_watermark, screen_against_ledger, screen_docs_against_corpus  # noqa: F401
from .sketches import windowed_cms_cells  # noqa: F401
from .curation import screen_embeddings_against_corpus  # noqa: F401
from .cep import funnel_conversions, sequence_matches  # noqa: F401
from .joins import enrich_with_customers, enrich_with_scd2, view_purchase_full_join, view_purchase_interval_join, view_purchase_left_join, window_join  # noqa: F401
from .stateful import (  # noqa: F401
    count_window,
    running_totals,
    sequence_matches_tws,
    ttl_dedup_tws,
)
from .anomaly import running_anomalies  # noqa: F401
from .twa import time_weighted_totals  # noqa: F401
from .topn import window_topn as window_topn_stream  # noqa: F401
from .runner import stream_config_from_estimate, apply_stream_config  # noqa: F401
from .sinks import batch_writer, idempotent_parquet_sink, rollup_maintenance_sink  # noqa: F401
from .metrics import observed, with_ingest_metrics  # noqa: F401
