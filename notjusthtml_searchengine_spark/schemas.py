"""Every table schema in the engine, declared explicitly.

The reference declares its schema as Go structs with bun tags
(/root/reference/database.go:20-91); we declare explicit StructTypes
and never rely on inference — important for empty-round DataFrames
and for Arrow UDF return types (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input corpus (BASELINE.json input_hint): Common-Crawl-style pages.
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Golden sidecar for kernel tests (FIXTURES.md §1).
KEYWORD = T.StructType(
    [
        T.StructField("visibility", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)
EXTRACTED_LINK = T.StructType(
    [
        T.StructField("dest_url", T.StringType(), False),
        T.StructField("keywords", T.ArrayType(KEYWORD), False),
    ]
)
PAGES_GOLDEN = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("links", T.ArrayType(EXTRACTED_LINK), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("sha1", T.BinaryType(), False),
        T.StructField("sha512", T.BinaryType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Engine state tables (FIXTURES.md §4-6). Frontier/seen are bucketed by
# pmod(xxhash64(url_norm), n_buckets) so the load-bearing anti-join (J2)
# shuffles neither side when both are written bucket-partitioned; the
# count in force is the one pinned in the round manifest.
# ---------------------------------------------------------------------------
FRONTIER = T.StructType(
    [
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("round_added", T.IntegerType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("round_seen", T.IntegerType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("allow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay_ms", T.IntegerType(), True),
        T.StructField("fetched_round", T.IntegerType(), True),
    ]
)

FLAGGED_WORDS = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Output sinks (FIXTURES.md §7; reference DDL database.go:115-138).
# Surrogate ids are deterministic xxhash64 of the natural key — distributed-
# friendly, unlike the reference's Postgres autoincrement (database.go:35).
# ---------------------------------------------------------------------------
CONTENTS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("site_id", T.LongType(), False),
        T.StructField("content_type_id", T.LongType(), False),
        T.StructField("size", T.IntegerType(), False),
        T.StructField("sha512", T.BinaryType(), False),
        T.StructField("sha1", T.BinaryType(), False),
        T.StructField("time_found", T.LongType(), False),
    ]
)

CONTENT_BLOBS = T.StructType(
    [
        T.StructField("sha1", T.BinaryType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)

LINK_RELS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("link_id", T.LongType(), False),
        T.StructField("origin_id", T.LongType(), False),
        T.StructField("dest_id", T.LongType(), False),
        T.StructField("origin_url", T.StringType(), False),
        T.StructField("dest_url", T.StringType(), False),
        T.StructField("rating", T.DoubleType(), False),
        T.StructField("time_found", T.LongType(), False),
    ]
)

LINK_KEYWORDS = T.StructType(
    [
        T.StructField("link_id", T.LongType(), False),
        T.StructField("visibility", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

EXIF_INFO = T.StructType(
    [
        T.StructField("content_id", T.LongType(), False),
        T.StructField("camera", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
    ]
)

PERCEPTUAL_HASHES = T.StructType(
    [
        T.StructField("content_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

FACES = T.StructType(
    [
        T.StructField("content_id", T.LongType(), False),
        T.StructField("descriptor", T.ArrayType(T.FloatType()), True),
        T.StructField(
            "rectangle",
            T.StructType(
                [
                    T.StructField("x0", T.IntegerType(), True),
                    T.StructField("y0", T.IntegerType(), True),
                    T.StructField("x1", T.IntegerType(), True),
                    T.StructField("y1", T.IntegerType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "shapes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType(), True),
                        T.StructField("y", T.IntegerType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

# ---------------------------------------------------------------------------
# Dimension tables (reference database.go:143-215): sites / domains /
# content_types as first-class queryable tables. Ids are xxhash64 of
# the natural key (SURVEY §1.1) — deterministic, no sequence service.
# ---------------------------------------------------------------------------
SITES = T.StructType(
    [
        T.StructField("site_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)

DOMAINS = T.StructType(
    [
        T.StructField("domain_id", T.LongType(), False),
        T.StructField("domain", T.StringType(), True),
    ]
)

CONTENT_TYPES = T.StructType(
    [
        T.StructField("content_type_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), False),
    ]
)

# Error codes mirror errorHandling.go:19-32 (10 values). The reference
# has a quirk: it always *stores* ErrorParsingHtml regardless of the
# passed code (errorHandling.go:40); we store the real code and note
# the divergence (SURVEY.md §2.1 S12).
ERROR_CODES = {
    "ErrorParsingUrl": 1,
    "ErrorUrlGet": 2,
    "ErrorResponseToBig": 3,
    "ErrorReadingBody": 4,
    "ErrorBodyLenZero": 5,
    "ErrorResponseSizeUneqContLen": 6,
    "ErrorParsingHtml": 7,
    "ErrorPerceptualHash": 8,
    "ErrorFaceRecognition": 9,
    "ErrorFetchMissing": 10,  # engine-only: frontier url absent from corpus
    "ErrorRobotsBlocked": 11,  # engine-only: drained url denied by robots
}

ERRORS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("error_code", T.IntegerType(), False),
        T.StructField("error_text", T.StringType(), True),
    ]
)

# Per-partition lineage (north_rule): one row per (round, stage, partition).
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("bytes", T.LongType(), True),
    ]
)

ROUND_STATS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("pages_fetched", T.LongType(), False),
        T.StructField("links_found", T.LongType(), False),
        T.StructField("new_frontier", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# Bloom shard sidecar (U8): one row per bucket.
BLOOM_SHARDS = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)
