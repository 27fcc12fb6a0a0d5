"""The pages schema, the engine's primary input (BASELINE.json input_hint).

The streaming ingest reads pages with it, so no file-source stream infers a
schema.  Stage tables carry their schema in their ``_manifest.json``
(``sources/tables.write_stage``) instead.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
