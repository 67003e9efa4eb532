"""Reference-parity queries (SURVEY.md §2b R1-R8) on the driver's fixture
tables, role-mapped per FIXTURES.md §A. Each entry exercises one engine
operator with the exact semantics of its ``src/wins_transform_staging.py``
counterpart, plus a full end-to-end WINS pipeline run on WINS-shaped data
derived deterministically from ``orders``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flnr_wins_spark.operators import (
    append_no_test,
    blank_to_null,
    conditional_update,
    enrich,
    frequency,
    reject_duplicates,
    reject_unmatched,
)
from flnr_wins_spark.plans.common import query, t

# --------------------------------------------------------------------- R1

_R1_TEMPLATE = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
    ]
)


@query(
    "r1_append_no_test",
    sql="""
    SELECT l_orderkey, l_partkey, CAST(NULL AS BIGINT) AS l_suppkey,
           l_quantity, CAST(NULL AS DOUBLE) AS l_extendedprice,
           CAST(NULL AS VARCHAR) AS l_returnflag
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, CAST(NULL AS BIGINT), l_suppkey,
           CAST(NULL AS DOUBLE), l_extendedprice, l_returnflag
    FROM lineitem
    """,
    note="R1 NO_TEST append: wts.py:151-155 — name-mapped union, missing cols NULL",
)
def r1_append_no_test(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", "l_partkey", "l_quantity")
    b = li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_returnflag")
    return append_no_test(_R1_TEMPLATE, a, b)


# --------------------------------------------------------------------- R2+R3

@query(
    "r2_conditional_update",
    sql="""
    SELECT p_partkey, p_type,
           CASE WHEN p_type LIKE 'PROMO%' THEN 'EA83030000'
                WHEN p_type LIKE 'STANDARD%' THEN 'EA83040000'
                ELSE p_brand END AS FEATURE_CODE
    FROM part
    """,
    note="R2+R3 select+calculate fused to chained when: wts.py:168-171",
)
def r2_conditional_update(spark, sf_dir):
    part = t(spark, sf_dir, "part").withColumn("FEATURE_CODE", F.col("p_brand"))
    part = conditional_update(
        part,
        "FEATURE_CODE",
        [
            (F.col("p_type").like("PROMO%"), "EA83030000"),
            (F.col("p_type").like("STANDARD%"), "EA83040000"),
        ],
    )
    return part.select("p_partkey", "p_type", "FEATURE_CODE")


@query(
    "r3_blank_to_null",
    sql="""
    SELECT c_custkey,
           NULLIF(CASE WHEN c_mktsegment = 'BUILDING' THEN '' ELSE c_mktsegment END, '') AS SEG
    FROM customer
    """,
    note="R3 blank->null normalization: wts.py:190-192,216-232",
)
def r3_blank_to_null(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").withColumn(
        "SEG", F.when(F.col("c_mktsegment") == "BUILDING", "").otherwise(F.col("c_mktsegment"))
    )
    return blank_to_null(cust, "SEG").select("c_custkey", "SEG")


# --------------------------------------------------------------------- R4+R5

@query(
    "r4_enrich_left_join",
    sql="""
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_orderpriority AS O_PRIORITY,
           CAST(o.o_orderdate AS DATE) AS O_DATE
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    note="R4+R5 KEEP_ALL join enrichment: wts.py:176-179,200-204",
    bench=True,
)
def r4_enrich_left_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    od = t(spark, sf_dir, "orders")
    out = enrich(
        li,
        od,
        on=("l_orderkey", "o_orderkey"),
        mapping={"O_PRIORITY": "o_orderpriority", "O_DATE": "o_orderdate"},
        broadcast_lookup=False,  # orders is fact-sized; let AQE pick the strategy
    )
    return out.withColumn("O_DATE", F.col("O_DATE").cast("date"))


# --------------------------------------------------------------------- R6

@query(
    "r6_frequency",
    sql="SELECT l_orderkey, COUNT(*) AS FREQUENCY FROM lineitem GROUP BY l_orderkey",
    note="R6 Frequency_analysis: wts.py:240-243",
)
def r6_frequency(spark, sf_dir):
    return frequency(t(spark, sf_dir, "lineitem"), "l_orderkey")


# --------------------------------------------------------------------- R7

@query(
    "r7_reject_duplicates",
    sql="""
    SELECT o_orderkey, o_custkey, 'Duplicate o_custkey' AS REJECT_FLAG
    FROM (SELECT o_orderkey, o_custkey,
                 COUNT(*) OVER (PARTITION BY o_custkey) AS _c
          FROM orders)
    WHERE _c > 1 AND o_custkey IS NOT NULL
    """,
    note="R7 all-members duplicate rejection: wts.py:243-257 (window rewrite)",
    bench=True,
)
def r7_reject_duplicates(spark, sf_dir):
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    split = reject_duplicates(od, "o_custkey")
    return split.rejected


# --------------------------------------------------------------------- R8

@query(
    "r8_reject_unmatched",
    sql="""
    SELECT l_orderkey, l_linenumber, l_partkey,
           'l_partkey not found in part' AS REJECT_FLAG
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey AND p.p_partkey % 10 <> 0)
    """,
    note="R8 anti-join RI rejection: wts.py:257-265 (lookup = part sans every 10th key)",
)
def r8_reject_unmatched(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    lookup = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 != 0)
    split = reject_unmatched(
        li, lookup, on=("l_partkey", "p_partkey"), flag="l_partkey not found in part"
    )
    return split.rejected


# ------------------------------------------------------------- WINS e2e

def _wins_inputs(spark, sf_dir):
    """Deterministic WINS-shaped tables from ``orders`` (FIXTURES.md §B).

    TRRR_TAG duplicates: rows with key ≡ 1 (mod 10) take the tag of key+1 —
    duplicate groups of exactly 2. POD lookup drops every 4th key — unmatched
    rows for R8. Prefix encodes the RV/RS/other three-way case of
    ``src/wins_transform_staging.py:168-171``.
    """
    od = t(spark, sf_dir, "orders")
    tagnum = F.when(F.col("o_orderkey") % 10 == 1, F.col("o_orderkey") + 1).otherwise(
        F.col("o_orderkey")
    )
    prefix = (
        F.when(tagnum % 3 == 0, "RV").when(tagnum % 3 == 1, "RS").otherwise("TG")
    )
    rrr = od.select(
        F.col("o_orderkey").alias("OBJECTID"),
        F.concat(prefix, tagnum.cast("string")).alias("TRRR_TAG"),
        F.lit(None).cast("string").alias("FEATURE_CODE"),
        F.lit(None).cast("string").alias("DESCRIPTION"),
        # Opaque geometry stand-in: arbitrary (non-UTF8) bytes per row, like
        # the WKB blobs the reference copies but never computes on
        # (src/wins_transform_staging.py:132,155). Every operator must carry
        # it through byte-identical.
        F.unhex(F.md5(F.encode(F.col("o_orderkey").cast("string"), "UTF-8"))).alias("SHAPE"),
    )
    pprefix = (
        F.when(F.col("o_orderkey") % 3 == 0, "RV")
        .when(F.col("o_orderkey") % 3 == 1, "RS")
        .otherwise("TG")
    )
    pod = od.filter(F.col("o_orderkey") % 4 != 0).select(
        F.concat(pprefix, F.col("o_orderkey").cast("string")).alias("PNTS_CODE"),
        F.col("o_orderpriority").alias("PNTS_DESCR"),
        F.col("o_orderstatus").alias("SRCE_GAZETTED"),
    )
    return rrr, pod


_WINS_SQL_CTE = """
    WITH rrr0 AS (
      SELECT o_orderkey AS OBJECTID,
             CASE WHEN o_orderkey % 10 = 1 THEN o_orderkey + 1 ELSE o_orderkey END AS tagnum
      FROM orders
    ), rrr AS (
      SELECT OBJECTID,
             concat(CASE WHEN tagnum % 3 = 0 THEN 'RV'
                         WHEN tagnum % 3 = 1 THEN 'RS' ELSE 'TG' END,
                    CAST(tagnum AS VARCHAR)) AS TRRR_TAG,
             CASE WHEN tagnum % 3 = 0 THEN 'EA83030000'
                  WHEN tagnum % 3 = 1 THEN 'EA83040000'
                  ELSE CAST(NULL AS VARCHAR) END AS FEATURE_CODE,
             unhex(md5(CAST(OBJECTID AS VARCHAR))) AS SHAPE
      FROM rrr0
    ), pod AS (
      SELECT concat(CASE WHEN o_orderkey % 3 = 0 THEN 'RV'
                         WHEN o_orderkey % 3 = 1 THEN 'RS' ELSE 'TG' END,
                    CAST(o_orderkey AS VARCHAR)) AS PNTS_CODE,
             o_orderpriority AS PNTS_DESCR
      FROM orders WHERE o_orderkey % 4 <> 0
    ), enr AS (
      SELECT r.OBJECTID, r.TRRR_TAG, r.FEATURE_CODE, p.PNTS_DESCR AS DESCRIPTION,
             r.SHAPE,
             COUNT(*) OVER (PARTITION BY r.TRRR_TAG) AS _c,
             (p.PNTS_CODE IS NOT NULL) AS _matched
      FROM rrr r LEFT JOIN pod p ON r.TRRR_TAG = p.PNTS_CODE
    )
"""


@query(
    "wins_e2e_rejects",
    sql=_WINS_SQL_CTE
    + """
    SELECT OBJECTID, TRRR_TAG, FEATURE_CODE, DESCRIPTION,
           lower(hex(SHAPE)) AS SHAPE_HEX,
           CASE WHEN _c > 1 THEN 'Duplicate TRRR_TAG'
                ELSE 'TRRR_TAG not found in Water POD Table' END AS REJECT_FLAG
    FROM enr WHERE _c > 1 OR NOT _matched
    """,
    note="Full pipeline reject table: wts.py:236-273 incl. flag precedence (:268-269)",
    bench=True,
)
def wins_e2e_rejects(spark, sf_dir):
    from flnr_wins_spark.plans.wins_pipeline import qa_reserves, transform_reserves

    rrr, pod = _wins_inputs(spark, sf_dir)
    # pod derives from orders (fact-sized): never force-broadcast it — let
    # AQE pick the join strategy, same posture as the r4 entry
    split = qa_reserves(transform_reserves(rrr, pod, broadcast_lookup=False))
    # The pipeline carries SHAPE as raw WKB-like bytes end-to-end (byte
    # passthrough is pinned by unit tests); the *graded* projection hexes it
    # because differential harnesses cannot hash raw binary columns
    # (DuckDB BLOB -> pandas bytearray is unhashable).
    return _hex_shape(split.rejected)


@query(
    "wins_e2e_kept",
    sql=_WINS_SQL_CTE
    + """
    SELECT OBJECTID, TRRR_TAG, FEATURE_CODE, DESCRIPTION,
           lower(hex(SHAPE)) AS SHAPE_HEX
    FROM enr WHERE _c <= 1 AND _matched
    """,
    note="Full pipeline kept (published) table: wts.py:280-286",
)
def wins_e2e_kept(spark, sf_dir):
    from flnr_wins_spark.plans.wins_pipeline import qa_reserves, transform_reserves

    rrr, pod = _wins_inputs(spark, sf_dir)
    # pod derives from orders (fact-sized): never force-broadcast it — let
    # AQE pick the join strategy, same posture as the r4 entry
    split = qa_reserves(transform_reserves(rrr, pod, broadcast_lookup=False))
    return _hex_shape(split.kept)


def _hex_shape(df):
    """Replace the raw-binary SHAPE carry with ``lower(hex(SHAPE))`` for the
    graded output only (lossless, string-typed, hashable by any harness)."""
    cols = [
        F.lower(F.hex(F.col(c))).alias("SHAPE_HEX") if c == "SHAPE" else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)
