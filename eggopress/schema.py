"""Pinned schemas (BASELINE.json input_hint; FIXTURES.md §1/§3).

The reference pins schemas via Avro-in-Parquet-footer metadata
(eggo/operations.py:88-96); here they are explicit StructTypes, stored in
the table-format snapshot (tablefmt.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# The authoritative input shape: pre-tokenized training sequences.
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

CORPUS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.field("item", pa.int32(), nullable=False)), nullable=False),
        pa.field("n_tok", pa.int32(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
    ]
)

# The corpus as a generic.py kind map: every column encodes and decodes
# through the generic column kernel. tokens stores only its values stream;
# its list lengths are the n_tok column.
CORPUS_KINDS = {"doc_id": "str", "tokens": "list_int", "n_tok": "int32",
                "source": "str"}

# Encoded chunk rows: one row per (partition, chunk); one blob per logical
# column. Self-describing blobs (codec + params in the blob header); codec
# names duplicated as columns for manifest/metrics queries.
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        # chunk-skipping stats (SURVEY.md §4 "partition pruning" row):
        # min/max per chunk let a predicate decode skip whole chunks
        T.StructField("n_tok_min", T.IntegerType(), False),
        T.StructField("n_tok_max", T.IntegerType(), False),
        T.StructField("tok_min", T.IntegerType(), False),
        T.StructField("tok_max", T.IntegerType(), False),
        T.StructField("doc_id_blob", T.BinaryType(), False),
        T.StructField("source_blob", T.BinaryType(), False),
        T.StructField("n_tok_blob", T.BinaryType(), False),
        T.StructField("tokens_blob", T.BinaryType(), False),
        T.StructField("doc_id_bytes", T.LongType(), False),
        T.StructField("source_bytes", T.LongType(), False),
        T.StructField("n_tok_bytes", T.LongType(), False),
        T.StructField("tokens_bytes", T.LongType(), False),
        T.StructField("doc_id_codec", T.StringType(), False),
        T.StructField("source_codec", T.StringType(), False),
        T.StructField("n_tok_codec", T.StringType(), False),
        T.StructField("tokens_codec", T.StringType(), False),
    ]
)

CHUNK_ARROW_SCHEMA = pa.schema(
    [
        pa.field("source", pa.string()),
        pa.field("salt", pa.int32()),
        pa.field("partition_id", pa.string()),
        pa.field("chunk_id", pa.int64()),
        pa.field("n_rows", pa.int32()),
        pa.field("n_values", pa.int64()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("encoded_bytes", pa.int64()),
        pa.field("n_tok_min", pa.int32()),
        pa.field("n_tok_max", pa.int32()),
        pa.field("tok_min", pa.int32()),
        pa.field("tok_max", pa.int32()),
        pa.field("doc_id_blob", pa.binary()),
        pa.field("source_blob", pa.binary()),
        pa.field("n_tok_blob", pa.binary()),
        pa.field("tokens_blob", pa.binary()),
        pa.field("doc_id_bytes", pa.int64()),
        pa.field("source_bytes", pa.int64()),
        pa.field("n_tok_bytes", pa.int64()),
        pa.field("tokens_bytes", pa.int64()),
        pa.field("doc_id_codec", pa.string()),
        pa.field("source_codec", pa.string()),
        pa.field("n_tok_codec", pa.string()),
        pa.field("tokens_codec", pa.string()),
    ]
)

# Manifest: per column-chunk stats (FIXTURES.md §3).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        T.StructField("n_tok_min", T.IntegerType(), True),
        T.StructField("n_tok_max", T.IntegerType(), True),
        T.StructField("tok_min", T.IntegerType(), True),
        T.StructField("tok_max", T.IntegerType(), True),
    ]
)

# Lineage: resumable per-partition checkpoint rows (FIXTURES.md §3; the
# engine analog of eggo's DAG/provenance registry, SURVEY.md §2.7).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("codec_summary", T.StringType(), True),
        T.StructField("input_bytes", T.LongType(), True),
        T.StructField("output_bytes", T.LongType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
