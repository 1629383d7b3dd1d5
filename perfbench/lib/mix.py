"""The query_mix list: (family, registry query), grouped by family.

Trimmed from the full family lists (sql q08 q09 q15 q17 q18 q86 q35,
similarity q22 q23 q25 q36 q46 q87, graph q101 q106 q125, stream q123
q78, lake q157 … q231) so one run — set-up, one untimed result pass and
at least two timed passes — fits the benchmark's time per run, keeping
every family. A full pass of those 28 queries takes ~29 s on 4 cores;
this one ~8 s. Among equals the pick is the query whose DuckDB oracle
is fast, so the expected results can be re-validated in minutes
(q22/q23/q36/q87 take 8-16 min each)."""

QUERIES = (
    ("sql", "q18_range_join"),
    ("sql", "q35_hsd_source"),
    ("similarity", "q25_cosine_topk"),
    ("graph", "q101_pagerank"),
    ("stream", "q123_streaming_dedup"),
    ("lake", "q164_zip_extract"),
    ("lake", "q206_avro_extract"),
    ("lake", "q224_parquet_meta"),
)
