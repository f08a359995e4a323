"""UDF / UDAF / UDTF surface (Spark 4.1; SURVEY §2B).

The reference has no UDFs (its engines are SQL-only); this is the
north-star extension surface. Ordering of implementations per the
public guidance: built-ins first, Arrow-batched Pandas UDFs where
Python is unavoidable, row-at-a-time UDFs only to *demonstrate* the
API (q_udf_python exists to be compared against its vectorized twin).

Hash-stability: the grouped-agg UDF does exact integer-cent
arithmetic (no float accumulation-order dependence) and only the
final ratio is a double division — bit-identical to the oracle's
decimal-sum-then-divide.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_workshop_spark.registry import register
from iceberg_workshop_spark.sources.tables import load


def _norm_key(s: str) -> str:
    return s.lower().replace(" ", "_").replace("#", "_")


@register(
    "q_udf_python",
    oracle="""
    SELECT c_custkey,
           replace(replace(lower(c_name), ' ', '_'), '#', '_') AS norm_key
    FROM customer
    ORDER BY c_custkey
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (API surface demo — the slow path;
    q_udf_pandas is the same function vectorized)."""
    norm = F.udf(_norm_key, T.StringType())
    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", norm("c_name").alias("norm_key")).orderBy("c_custkey")


@register(
    "q_udf_pandas",
    oracle="""
    SELECT c_custkey,
           replace(replace(lower(c_name), ' ', '_'), '#', '_') AS norm_key
    FROM customer
    ORDER BY c_custkey
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same normalization as q_udf_python but as an Arrow-batched
    pandas_udf — the pattern to use when Python is unavoidable
    (~10-100× over row-at-a-time)."""

    @F.pandas_udf(T.StringType())
    def norm(s: pd.Series) -> pd.Series:
        return s.str.lower().str.replace(" ", "_", regex=False).str.replace(
            "#", "_", regex=False
        )

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", norm("c_name").alias("norm_key")).orderBy("c_custkey")


@register(
    "q_udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS weighted_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: quantity-weighted mean price.

    Accumulates in exact integer cents (order-independent), divides
    once at the end — matches the oracle's decimal-exact SUMs cast to
    double bit-for-bit.
    """

    @F.pandas_udf(T.DoubleType())
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        p_cents = (price * 100).round().astype("int64")
        q_cents = (qty * 100).round().astype("int64")
        num = int((p_cents * q_cents).sum())  # price*qty in 1e-4 units
        den = int(q_cents.sum())
        return (num / 10000.0) / (den / 100.0)

    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(wmean("l_extendedprice", "l_quantity").alias("weighted_price"))
        .orderBy("l_returnflag")
    )


@register(
    "q_udtf_apply",
    oracle="""
    SELECT event_id, event_type,
           value - MIN(value) OVER (PARTITION BY event_type) AS delta_from_min
    FROM events
    ORDER BY event_id
    """,
)
def q_udtf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group transform via applyInPandas: each event's delta from
    its type's minimum value. Exact (min + one subtraction — no
    accumulation), so the window-function oracle matches bit-for-bit.

    At 100 TB this is one shuffle on the group key; each group is
    processed as Arrow batches in a Python worker.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def delta(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["delta_from_min"] = pdf["value"] - pdf["value"].min()
        return pdf[["event_id", "event_type", "delta_from_min"]]

    return (
        ev.groupBy("event_type")
        .applyInPandas(delta, schema="event_id long, event_type string, delta_from_min double")
        .orderBy("event_id")
    )


@register(
    "q_udtf_words",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
    ORDER BY doc_id, word
    """,
)
def q_udtf_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one row per word per document (table function).

    The built-in ``split``+``explode`` expresses the same thing JVM-side
    (and is what the LLM text ops use); the UDTF exists to cover the
    Spark 4 ``F.udtf`` API per SURVEY §2B.
    """

    @F.udtf(returnType="doc_id bigint, word string")
    class WordSplitter:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            if text:
                for w in text.split(" "):
                    yield doc_id, w

    spark.udtf.register("iws_word_splitter", WordSplitter)
    return spark.sql(
        "SELECT s.doc_id, s.word FROM {docs} d, "
        "LATERAL iws_word_splitter(d.doc_id, d.text) s",
        docs=load(spark, sf_dir, "documents"),
    ).orderBy("doc_id", "word")


@register(
    "q_udf_arrow",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native group apply (Spark 4 ``applyInPandas``'s zero-copy
    sibling ``applyInArrow``): per event type, count and an exact
    integer-cent sum computed with pyarrow.compute — no pandas
    conversion, no Python-object row materialization. floor(value*100)
    (not round) because float64 floor is bit-identical across engines
    while double rounding modes differ. One shuffle on the group key;
    each group streams through the worker as Arrow record batches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load(spark, sf_dir, "events").select("event_type", "value")

    def cents(tbl: pa.Table) -> pa.Table:
        c = pc.cast(pc.floor(pc.multiply(tbl["value"], pa.scalar(100.0))), pa.int64())
        return pa.table(
            {
                "event_type": [tbl["event_type"][0].as_py()],
                "n": [tbl.num_rows],
                "cents": [pc.sum(c).as_py()],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInArrow(cents, schema="event_type string, n bigint, cents bigint")
        .orderBy("event_type")
    )
