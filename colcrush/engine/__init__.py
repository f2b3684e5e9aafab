"""colcrush distributed engine: encode/decode over mapInArrow, skew-salted
(group) partitioning, chunk manifests, resumable datasets, pruned scans."""

from .dataset import (
    ensure_file_map,
    read_chunks,
    register_view,
    compact,
    read_decoded,
    read_manifest,
    read_schema,
    resume_encode,
    verify_dataset,
    write_encoded,
)
from .decoder import decode_table
from .encoder import CHUNK_SCHEMA, ENCODED_DDL, MANIFEST_COLS, encode_table, plan_salts
from .scan import column_min_max, count_rows, filtered_min_max, pruned_chunk_count, scan

__all__ = [
    "encode_table",
    "decode_table",
    "plan_salts",
    "write_encoded",
    "resume_encode",
    "read_chunks",
    "ensure_file_map",
    "read_manifest",
    "read_schema",
    "read_decoded",
    "compact",
    "register_view",
    "verify_dataset",
    "scan",
    "count_rows",
    "column_min_max",
    "filtered_min_max",
    "pruned_chunk_count",
    "CHUNK_SCHEMA",
    "ENCODED_DDL",
    "MANIFEST_COLS",
]
