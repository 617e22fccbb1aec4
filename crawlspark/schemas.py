"""All engine StructTypes, declared once (SURVEY.md §1).

The reference's type surface is primitives + the URL struct + the DOM tree
(Go structs; crawler.go:91-128, queue.go:28-39). The only nested Spark type
needed is the interleaved span payload ``array<struct<kind,text,media_ref,
offset>>`` (BASELINE.json input_hint) and the intermediate link list before
explode.
"""

from pyspark.sql import types as T

# One span of an interleaved text+media document (input_hint contract).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# The stored output table (FIXTURES.md §5): the BASELINE input table shape.
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

LINK = T.StructType(
    [
        T.StructField("link_index", T.IntegerType(), False),
        T.StructField("href", T.StringType(), False),
    ]
)

# Synthetic web / fetch resolver table (FIXTURES.md §1): the in-sandbox
# replacement for HTTP GET (crawler.go:27-57) — a deterministic resolver.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("url_key", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("content_html", T.StringType(), True),
    ]
)

# Frontier rows: the unit of work (≙ *url.URL flowing through channels,
# crawler.go:170) plus the scheduling metadata our batch realization needs.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("url_key", T.StringType(), False),  # seen-set key
        T.StructField("round", T.IntegerType(), False),  # discovery round
        T.StructField("disc_order", T.LongType(), False),  # global FIFO order
        T.StructField("priority", T.DoubleType(), False),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_key", T.StringType(), False),
        T.StructField("first_round", T.IntegerType(), False),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seed_order", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
    ]
)

SITEMAP_ENTRY = T.StructType(
    [
        T.StructField("loc", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("changefreq_secs", T.LongType(), True),
        T.StructField("lastmod", T.TimestampType(), True),
        T.StructField("entry_order", T.IntegerType(), False),
    ]
)

ROBOTS_RULE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("crawl_delay_secs", T.DoubleType(), True),
    ]
)

# mapInPandas output of the fused fetch→parse→extract stage (P1-P4):
# one row per scheduled URL, links kept nested until after the documents
# write so the expensive parse runs once.
PARSED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("url_key", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("disc_order", T.LongType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("fetched_ok", T.BooleanType(), False),
        T.StructField("spans", T.ArrayType(SPAN), True),
        T.StructField("links", T.ArrayType(LINK), True),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
    ]
)

# Dropped-candidate lineage (Q3 error taxonomy, queue.go:9-21): per-round
# counts by reason. 'duplicate' covers in-round first-wins losses and
# cross-round already-seen alike — the reference has one ErrDuplicateURL.
LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("reason", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)
