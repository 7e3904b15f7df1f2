"""Explicit schemas — the reference hard-codes its schemas in SQL
strings and DDL (reference: extract_bq.py:103-108, 195-210); here they
are first-class StructType constants. Never ``inferSchema`` on the hot
path.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference source contract: GA4-style raw event -----------------
# reference: extract_bq.py:103-108 (SELECT list), :159-164 (params use)
GA4_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("event_name", T.StringType(), True),
        # microseconds since epoch, kept raw end-to-end
        # (reference: flask_server.py:66,96 — /1_000_000 conversions)
        T.StructField("event_timestamp", T.LongType(), True),
        T.StructField("event_date", T.DateType(), True),
        T.StructField(
            "event_params",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType(), True),
                        T.StructField(
                            "value",
                            T.StructType(
                                [T.StructField("string_value", T.StringType(), True)]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)

# --- Reference sink contract: application_events ---------------------
# reference DDL: extract_bq.py:195-210 == flask_server.py:123-138
# (id SERIAL and created_at DEFAULT are sink-generated; dedup key is
#  UNIQUE(user_id, event_timestamp, event_name))
APPLICATION_EVENTS_DEDUP_KEY = ["user_id", "event_timestamp", "event_name"]

# CSV export header order (reference: extract_bq.py:149)
CSV_EXPORT_COLUMNS = [
    "user_id",
    "event_date",
    "event_timestamp",
    "event_name",
    "event_id",
    "event_name_detail",
]

# Fixture-events vocabulary (TESTDATA.md / observed data)
FIXTURE_TRACKED_EVENTS = ["click", "purchase", "signup", "view"]  # drop 'error'

# --- Fixture tables (driver-generated parquet; FIXTURES.md §B) -------
# Declared schema of each table, in file column order: the types Spark
# infers from the fixtures at every scale (tests/test_fixture_encoding.py
# pins the two against each other). io.load_table reads with these, so
# no read starts a schema-inference job.
FIXTURE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
    "c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
    "p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
FIXTURE_TABLES = list(FIXTURE_SCHEMAS)

EMBEDDING_DIM = 64
