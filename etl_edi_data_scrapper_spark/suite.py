"""Query suite: one named query per implemented operator (SURVEY.md §2),
each with a DuckDB-runnable ANSI-SQL oracle producing identical columns.

Conventions that make the oracle comparison deterministic:
  * explicit arrival order — every order-dependent query derives ``_seq``
    from data (``l_orderkey*8 + l_linenumber`` is unique per lineitem row),
    never from file order;
  * double aggregation goes through exact DECIMAL partials, final cast to
    double (order-independent, so Spark's parallel sum == DuckDB's);
  * every computed column is aliased identically on both sides;
  * oracle output columns must be DuckDB BIGINT/DOUBLE/DECIMAL/VARCHAR/
    BOOLEAN/DATE — integer window/aggregate sums (and `//` on them)
    promote to HUGEINT, which the driver's pandas canonicalization
    renders as float64 and hash-mismatches Spark's long: always
    ``CAST(... AS BIGINT)`` them back (enforced by
    tests/test_oracle_types.py, which binds every oracle in DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_edi_data_scrapper_spark.operators.mapper import map_columns
from etl_edi_data_scrapper_spark.operators.merge import SEQ_COL, enrich, keyed_merge, with_seq
from etl_edi_data_scrapper_spark.plans.pipeline import aggregate
from etl_edi_data_scrapper_spark.sources.registry import read_local

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SHIPPED_SESSIONS: set[str] = set()
_PKG_ZIP_PATH: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's launch cwd/PYTHONPATH: zip the package and addPyFile it.
    Needed only by a query that serializes module-level functions to
    workers (the multimodal mapInPandas kernel) — everything else is pure
    JVM expressions. The zip is built fresh once per PROCESS into a
    private temp file, removed at process exit (a fixed /tmp
    name could ship stale code after an edit, race a concurrent run's
    half-written zip, or be planted by another user); idempotence per
    session is keyed by applicationId (id() of a GC'd context can be
    reused)."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    import atexit
    import os
    import pathlib
    import tempfile
    import zipfile

    global _PKG_ZIP_PATH
    if _PKG_ZIP_PATH is None or not os.path.exists(_PKG_ZIP_PATH):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, zip_path = tempfile.mkstemp(
            prefix="etl_edi_data_scrapper_spark_pkg_", suffix=".zip"
        )
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        _PKG_ZIP_PATH = zip_path
        atexit.register(pathlib.Path(zip_path).unlink, missing_ok=True)
    spark.sparkContext.addPyFile(_PKG_ZIP_PATH)
    _SHIPPED_SESSIONS.add(key)


# ---------------------------------------------------------------------------
# Shared dirty-feed synthesis (identical SQL text on both engines): turns the
# clean TPC-H lineitem into the reference's supplier-feed shape (FIXTURES.md
# §2) so the cleaning functions have something to clean.
# ---------------------------------------------------------------------------

# Unique, engine-agnostic arrival order: (l_orderkey, l_linenumber) is NOT
# unique in the synthetic data, so disambiguate with a 32-bit md5 content
# hash (instr/substring arithmetic — identical SQL on Spark and DuckDB).
# Unlike a row_number window this needs NO shuffle and no sort: the seq is a
# pure projection, so order-dependent merges stay one-shuffle at any scale.
# Residual ties are md5-colliding rows within one (orderkey, linenumber)
# group — vanishingly rare, and identical rows are interchangeable anyway.
_ROW_HASH_SQL = (
    "md5(concat_ws('|', CAST(l_quantity AS STRING), CAST(l_extendedprice AS STRING), "
    "CAST(l_discount AS STRING), CAST(l_tax AS STRING), l_returnflag, l_linestatus, "
    "CAST(l_partkey AS STRING), CAST(l_suppkey AS STRING)))"
)
# CAST the place-value multiplier to BIGINT: Spark's instr yields int32 and
# (15 * 16^7) overflows it silently with ANSI off (DuckDB auto-promotes).
_TIEBREAK_SQL = " + ".join(
    f"(instr('0123456789abcdef', substring({_ROW_HASH_SQL}, {k + 1}, 1)) - 1)"
    f" * CAST({16 ** (7 - k)} AS BIGINT)"
    for k in range(8)
)
_SEQ_SQL = f"(l_orderkey * 8 + l_linenumber) * 4294967296 + ({_TIEBREAK_SQL})"

_DIRTY_EXPRS = {
    "seq": _SEQ_SQL,
    "UPC": "CASE WHEN l_partkey % 97 = 0 THEN '' ELSE CAST(l_partkey AS STRING) END",
    "ASIN": (
        "CASE WHEN l_suppkey % 3 = 0 THEN CONCAT('#', CAST(l_suppkey AS STRING)) "
        "ELSE CONCAT('b', LPAD(CAST(l_suppkey AS STRING), 9, '0')) END"
    ),
    "Quantity": "CONCAT(' ', CAST(l_quantity AS STRING), ' u')",
    "Wholesale": "CONCAT('$', REPLACE(CAST(l_extendedprice AS STRING), '.', ','))",
    "Sublocation": "l_returnflag",
    "ProductName": "l_linestatus",
}

# same text, DuckDB spelling (STRING → VARCHAR)
_DIRTY_SQL = ",\n      ".join(
    f"{expr.replace('AS STRING', 'AS VARCHAR')} AS {alias}"
    for alias, expr in _DIRTY_EXPRS.items()
)
_DIRTY_CTE = f"SELECT\n      {_DIRTY_SQL}\n    FROM lineitem"

# DuckDB replica of functions.clean (same regex classes, same leading-float
# parse; try_cast ≈ Spark non-ANSI cast-to-null)
_SQL_CLEAN_STRING = "regexp_replace({c}, '[^a-zA-Zа-яА-Я0-9.]', '', 'g')"
_SQL_CLEAN_UPC = f"substring({_SQL_CLEAN_STRING}, 1, 13)"
_SQL_CLEAN_INT = (
    "coalesce(try_cast(regexp_replace({c}, '[^0-9]', '', 'g') AS BIGINT), 0)"
)
_SQL_CLEAN_FLOAT = (
    "coalesce(try_cast(regexp_extract(regexp_replace("
    + _SQL_CLEAN_STRING.format(c="replace({c}, ',', '.')")
    + ", '[^0-9.]', '', 'g'), '^([0-9]*\\.?[0-9]*)', 1) AS DOUBLE), 0.0)"
)
_SQL_ASIN = (
    "CASE WHEN regexp_matches(upper(trim({c})), '^[A-Z0-9]{{10}}$') "
    "THEN upper(trim({c})) ELSE NULL END"
)


def _dirty_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-file parquet splits at row-group granularity (3 partitions at
    # sf0.1), starving the CPU-heavy synth+clean projection on a wide
    # executor. Round-robin repartition first: one cheap raw-row shuffle
    # buys full-width parallelism for the expensive narrow stage (seq is
    # data-derived, so results are partitioning-invariant). ~2x at sf0.1.
    li = _t(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )
    return li.select(
        *[F.expr(e).alias(a) for a, e in _DIRTY_EXPRS.items()]
    )


# ---------------------------------------------------------------------------
# Core engine operators (SURVEY.md §2.3-§2.5, §3)
# ---------------------------------------------------------------------------


@register(
    "map_clean",
    oracle=f"""
    WITH feed AS ({_DIRTY_CTE})
    SELECT
      {_SQL_CLEAN_UPC.format(c="UPC")} AS upc,
      {_SQL_ASIN.format(c="ASIN")} AS asin,
      {_SQL_CLEAN_INT.format(c="Quantity")} AS qty,
      {_SQL_CLEAN_FLOAT.format(c="Wholesale")} AS price,
      ProductName AS product_name,
      CAST(102 AS BIGINT) AS supplier_id,
      CAST(1 AS BIGINT) AS version
    FROM feed
    """,
)
def q_map_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapper: project/rename + name-dispatched cleaning + literal stamps
    (`Mapper.php:55-133`). Pure narrow projection — no shuffle."""
    feed = _dirty_feed(spark, sf_dir)
    out, _ = map_columns(
        feed,
        {
            "upc": "UPC",
            "asin": "ASIN",
            "qty": "Quantity",
            "price": "Wholesale",
            "product_name": "ProductName",
        },
        supplier_id=102,
        version=1,
    )
    return out


@register(
    "keyed_merge",
    oracle=f"""
    WITH feed AS ({_DIRTY_CTE}),
    mapped AS (
      SELECT seq,
        {_SQL_CLEAN_UPC.format(c="UPC")} AS upc,
        {_SQL_ASIN.format(c="ASIN")} AS asin,
        {_SQL_CLEAN_INT.format(c="Quantity")} AS qty,
        {_SQL_CLEAN_FLOAT.format(c="Wholesale")} AS price,
        Sublocation AS status
      FROM feed
    )
    SELECT upc,
      (arg_max(struct_pack(v := asin), seq)).v AS asin,
      min(qty) AS qty,
      max(price) AS price,
      array_to_string(list(status ORDER BY seq), '|') AS status,
      CAST(102 AS BIGINT) AS supplier_id,
      CAST(1 AS BIGINT) AS version
    FROM mapped
    WHERE upc IS NOT NULL AND upc <> ''
    GROUP BY upc
    """,
)
def q_keyed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: mapper + keyed merge with all four merge rules + null/empty
    key drop (`DataSetCollection.php:23-74`). One shuffle, map-side partials.

    The ``status`` addArray column stays array-typed inside the engine; the
    suite serializes it with ``array_join`` only so the driver's pandas
    canonicalizer (which can't hash lists) can hash-compare it to the oracle.
    """
    feed = _dirty_feed(spark, sf_dir).withColumnRenamed("seq", SEQ_COL)
    mapped, merge_rules = map_columns(
        feed,
        {
            "upc": "UPC",
            "asin": "ASIN",
            "qty": ["Quantity", "min"],
            "price": ["Wholesale", "max"],
            "status": ["Sublocation", "addArray"],
        },
        supplier_id=102,
        version=1,
        keep=[SEQ_COL],
    )
    merged = keyed_merge(mapped, "upc", merge_rules)
    return merged.withColumn("status", F.array_join("status", "|"))


@register("keyed_lookup", oracle=None)  # oracle assigned below (reuses keyed_merge's)
def q_keyed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point lookup (`DataSetCollection::get`,
    `DataSetCollection.php:76-84`): fetch ONE key's merged row after the
    keyed merge. Expressed as an equality filter on the merge key — Catalyst
    pushes the predicate BELOW the aggregation onto the mapped feed (only
    the one group is ever shuffled/merged), the relational form of the
    reference's O(1) map probe."""
    return q_keyed_merge(spark, sf_dir).filter(F.col("upc") == "1")


ORACLES["keyed_lookup"] = (
    f"SELECT * FROM ({ORACLES['keyed_merge']}) m WHERE upc = '1'"
)


@register(
    "enrich_join",
    oracle=f"""
    WITH seqd AS (
      SELECT *, {_SEQ_SQL} AS seq FROM lineitem
    ),
    base AS (
      SELECT l_partkey,
        arg_max(l_quantity, seq) AS l_quantity,
        arg_max(l_extendedprice, seq) AS l_extendedprice
      FROM seqd GROUP BY l_partkey
    )
    SELECT b.l_partkey AS partkey, b.l_quantity AS qty, b.l_extendedprice AS price,
           p.p_name AS p_name, p.p_retailprice AS p_retailprice
    FROM base b LEFT JOIN part p ON p.p_partkey = b.l_partkey
    """,
)
def q_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source enrichment: base re-key (LWW) + broadcast left join copy
    of listed fields (`DataSetCollection::addFieldsFromCollection`)."""
    li = (
        with_seq(_t(spark, sf_dir, "lineitem"), leg=0, seq_expr=_SEQ_SQL)
        .select("l_partkey", "l_quantity", "l_extendedprice", SEQ_COL)
    )
    base = keyed_merge(li, "l_partkey", {}, drop_seq=False)
    part = with_seq(_t(spark, sf_dir, "part"), leg=1)
    out = enrich(base, part, "l_partkey", "p_partkey", ["p_name", "p_retailprice"])
    return out.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        "p_name",
        "p_retailprice",
    )


@register(
    "pipeline_e2e",
    oracle=f"""
    WITH seqd AS (
      SELECT *, {_SEQ_SQL} AS seq FROM lineitem
    ),
    base AS (
      SELECT l_partkey, arg_max(l_quantity, seq) AS l_quantity, max(seq) AS seq
      FROM seqd GROUP BY l_partkey
    ),
    enriched AS (
      SELECT b.*, p.p_name, p.p_retailprice
      FROM base b LEFT JOIN part p ON p.p_partkey = b.l_partkey
    )
    SELECT
      {_SQL_CLEAN_UPC.format(c="CAST(l_partkey AS VARCHAR)")} AS upc,
      {_SQL_CLEAN_INT.format(c="CAST(l_quantity AS VARCHAR)")} AS qty,
      {_SQL_CLEAN_FLOAT.format(c="CAST(p_retailprice AS VARCHAR)")} AS price,
      p_name AS name,
      CAST(7 AS BIGINT) AS supplier_id,
      CAST(3 AS BIGINT) AS version
    FROM enriched
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full config→plan compile: multi-source job (parquet legs) through
    `plans.aggregate` — scan ⊕ re-key ⊕ enrich ⊕ map ⊕ merge."""
    cfg = {
        "supplier_id": 7,
        "type_id": None,
        "source": [
            {
                "type_id": 3,
                "filename": f"{sf_dir}/lineitem.parquet",
                "key": "l_partkey",
                "fields": ["l_quantity"],
            },
            {
                "type_id": 3,
                "filename": f"{sf_dir}/part.parquet",
                "key": "p_partkey",
                "fields": ["p_name", "p_retailprice"],
            },
        ],
        "column_map_rules": {
            "upc": "l_partkey",
            "qty": ["l_quantity", "min"],
            "price": ["p_retailprice", "max"],
            "name": "p_name",
        },
        "version": 3,
        "seq_expr": [_SEQ_SQL, None],
        "repartition": 32,
    }
    return aggregate(spark, cfg, {3: read_local})


@register(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2)) *
               (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2)) *
               (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) *
               (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
        AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) / count(*) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregation (the engine's generalized groupBy/agg).
    DECIMAL partials keep the parallel sum order-independent and exact."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(14,2)")
    price = F.col("l_extendedprice").cast("decimal(16,2)")
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (
                F.sum(F.col("l_discount").cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Relational generalizations (SURVEY.md §2.7): the reference has none of
# these; our engine exposes them as plain Spark built-ins. Each gets an
# oracle so the coverage is hash-checked, not claimed.
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: sort + limit (TakeOrderedAndProject — no full sort at
    scale, each partition keeps K then the driver merges)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, rn, running_spend FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER w AS rn,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window suite over one partitioned sort: top-N per group via
    row_number + running aggregate frame (cumulative spend; DECIMAL
    partials keep prefix sums exact and order-independent). Both windows
    share (o_custkey, orderdate) — one shuffle, one sort, no global sort.
    [r3 consolidation: absorbs the former `running_total` query.]"""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(wf)
            .cast("double")
            .alias("running_spend"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "join_q3",
    oracle="""
    SELECT o.o_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(16,2)) *
                    (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_join_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join: the small filtered dimension (customer)
    broadcasts; the orders⋈lineitem join shuffles on the join key only."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(16,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup — Catalyst expands to one shuffle."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(14,2)")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi distinct-aggregate (Catalyst expands to partial aggregates)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n"),
        )
    )



def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table loader, normalizing `ts` to TIMESTAMP_LTZ across driver
    data vintages: TIMESTAMP(NANOS) parquet is read nanos-as-long and
    floor-converted to microseconds (DuckDB's ns→µs read), and TIMESTAMP(µs)
    parquet (which Spark 4 infers as TIMESTAMP_NTZ) is cast in the UTC
    session zone — identical instants, and `unix_micros` only accepts LTZ."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


@register(
    "events_window",
    oracle="""
    WITH h AS (SELECT date_trunc('hour', ts) AS hstart, event_type, value FROM events)
    SELECT epoch(hstart)::BIGINT AS window_start,
           event_type,
           CAST(quarter(hstart) AS INT) AS q,
           last_day(CAST(hstart AS DATE)) AS month_end,
           CAST(datediff('day', DATE '2024-01-01', CAST(hstart AS DATE)) AS INT) AS day_offs,
           epoch(date_trunc('month', hstart))::BIGINT AS month_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM h
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form of the streaming windowed agg;
    same `F.window` works under readStream with a watermark), carrying the
    date/time function surface on the bucket boundary: quarter, month-end,
    day offsets, month truncation — all engine-parity expressions, zero
    extra shuffle (pure post-agg projection).
    [r3 consolidation: absorbs the former `date_functions` query.]"""
    ev = _events(spark, sf_dir)
    ws = F.col("window.start")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(ws).alias("window_start"),
            "event_type",
            F.quarter(ws).alias("q"),
            F.last_day(F.to_date(ws)).alias("month_end"),
            F.datediff(F.to_date(ws), F.lit("2024-01-01").cast("date")).alias("day_offs"),
            F.unix_timestamp(F.date_trunc("month", ws)).alias("month_start"),
            "n",
            "sum_value",
        )
    )


@register(
    "sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 OR
                  lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 OR
                  lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session_sw
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           CAST(sum(new_session_sw) AS BIGINT) AS n_sessions_sw,
           count(*) AS n_events_sw
    FROM gaps GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization two ways, cross-checked in one result:

    * lag-gap flags (partitioned window, no global sort) — the classic
      batch composition; new session when the gap is STRICTLY greater
      than 30 min.
    * Spark's NATIVE `session_window(ts, gap)` aggregation — the same
      operator the streaming path uses (watermark + merging session
      state); a session's window is [ts, ts+gap), so a new session opens
      when the gap is >= 30 min.

    The oracle derives BOTH from independent lag arithmetic (with the
    matching >/>= boundary), so the native session_window operator is
    hash-verified against SQL — the batch-equivalent gate for the
    streaming session-window test (`test_streaming_session_window`).
    Both legs aggregate per user_id (the session_window groupBy is
    (window, user) then per-user counts — partial aggregation on both
    shuffles); the join of the two 150-row per-user frames is a trivial
    co-partitioned merge."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf_dir)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), 1
    ).otherwise(0)
    lag_based = (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    sw = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions_sw"),
            F.sum("cnt").alias("n_events_sw"),
        )
    )
    return lag_based.join(sw, "user_id")


# ---------------------------------------------------------------------------
# Training-data pipeline operators (BASELINE.json north star): text analysis,
# dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
# similarity. Implementations in functions/{text,dedup,similarity}.py.
# ---------------------------------------------------------------------------

_SQL_EN_STOP = "['the','a','of','and','to','in','is','it']"
# DuckDB replica of functions.dedup.shingles (3-gram words, distinct)
def _sql_shingles(t: str, n: int = 3) -> str:
    """DuckDB replica of functions.dedup.shingles for word n-grams."""
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({t})-{n - 1}, 1)), "
        f"i -> array_to_string({t}[i:i+{n - 1}], ' ')))"
    )


_SQL_SHINGLES = _sql_shingles("{t}", 3)
# DuckDB replica of functions.dedup.dot_expr/norm_expr — bit-identical to Spark's
# zip_with/aggregate (sequential double accumulation; the builtin
# list_cosine_similarity computes in float32 and does NOT match)
_SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_SQL_NORM = "sqrt(list_sum(list_transform({v}, x -> x::DOUBLE*x::DOUBLE)))"


def _sql_lang_score(words: tuple[str, ...]) -> str:
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(t, x -> list_contains({arr}, x)))"


# DuckDB replica of functions/text.py::unigram_cross_entropy — CTE names
# prefixed x* so they compose with the text_quality oracle's tok/sc
_XENT_CTES = """
    xtok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    xtf AS (SELECT doc_id, term, count(*) AS tf FROM xtok GROUP BY doc_id, term),
    xvocab AS (SELECT term, sum(tf) AS cnt FROM xtf GROUP BY term),
    xtot AS (SELECT sum(cnt) AS total_tokens FROM xvocab),
    xscored AS (
      SELECT xtf.doc_id, xtf.tf,
             CAST(floor(-ln(xvocab.cnt::DOUBLE / xtot.total_tokens::DOUBLE)
                        * 1000000) AS BIGINT) AS tok_micro
      FROM xtf JOIN xvocab USING (term) CROSS JOIN xtot),
    xagg AS (
      SELECT doc_id, CAST(sum(tf * tok_micro) AS BIGINT) AS xent_sum_micro
      FROM xscored GROUP BY doc_id),
    xm AS (
      SELECT x.doc_id, x.xent_sum_micro,
             (x.xent_sum_micro // t.n_tokens) // 1000 AS xent_milli
      FROM xagg x JOIN (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tokens FROM documents) t USING (doc_id))
    """


@register(
    "text_quality",
    oracle=None,  # filled below (generated SQL)
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile: quality features + composite score
    (functions.text) plus dictionary-based language ID (argmax stopword
    hits, asc-code tiebreak, 'und' when all zero) and the canonical
    fingerprint — one pure narrow projection, no shuffle, codegen'd —
    joined with the corpus-LM cross-entropy verdict
    (`functions/text.py::unigram_cross_entropy`: per-token -ln p quantized
    to micro-nats before exact long-sum averaging, the perplexity-filter
    modality) and the exact-dedup group stats (`functions/dedup.py::
    exact_dedup`: shuffle on the 16-byte fingerprint, never the text).

    r7 adds the Gopher repetition filter block (`functions/gopher.py`,
    Rae et al. 2021 table A1): top-{2,3,4}-gram char coverage,
    duplicated-{5,10}-gram token coverage (interval-union, overlap
    counted once), and the published-threshold `gopher_keep` verdict —
    all pre-quantized integer micro-fractions, computed as per-row
    sorted-array folds inside the same zero-shuffle projection as the
    quality features (the oracle re-states them relationally:
    explode → per-(doc,gram) counts → rank / gaps-and-islands union).

    r8 upgrades the perplexity family with the bigram stupid-backoff
    cross-entropy (`text.py::bigram_cross_entropy`, Brants 2007 / the
    CCNet shape): model fit on a deterministic md5-bucket HALF of the
    corpus, all docs scored, unseen bigrams backing off to
    alpha*add-1-unigram — the word-order signal the unigram filter is
    blind to. Three new hash-checked cols (`bxent_sum_micro`,
    `bxent_milli`, `bxent_keep`); the suite band [2000, 3500] drops the
    high tail so the verdict path is exercised.

    r8 also completes table A1 with the line/paragraph duplicate rules
    (`gopher.py::add_gopher_line_features`). The corpus has no newlines,
    so the leg SYNTHESIZES a deterministic newline-bearing text per doc
    (5-token lines, 3-line paragraphs; doc_id%7==3 docs get their first
    line re-appended, doc_id%11==5 their first paragraph — exercising
    both drop paths) and hash-checks the four micro-fractions plus the
    `gopher_line_keep` verdict against a relational DuckDB replica.
    r14 adds the TRAINED language classifier (`functions/
    lang_classifier.py` — multiclass integer perceptron over hashed char
    trigrams, the fasttext-lid shape; r13 verdict #4): `lang_clf_pred` +
    `lang_clf_score` are the argmax class and its integer margin from a
    model fit on the corpus's own labels, with the epochs unrolled into
    the oracle (`_lang_clf_ctes`) so both the TRAINING and the scoring
    are hash-checked bit-exactly.

    [r3 consolidation: absorbs the former `lang_id` query; r5: absorbs
    `unigram_xent` and `dedup_exact` to fit the driver's 50-query
    correctness cap — every leg's values stay hash-checked.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import exact_dedup
    from etl_edi_data_scrapper_spark.functions.gopher import (
        GOPHER_LINE_FEATURE_COLS,
        add_gopher_features,
        add_gopher_line_features,
    )
    from etl_edi_data_scrapper_spark.functions.text import (
        bigram_cross_entropy,
        fingerprint,
        lang_id,
        quality_features,
        quality_score,
        unigram_cross_entropy,
    )

    # local parallelism: the sf0.1 parquet reads as ONE split, which would
    # serialize the (cheap but now wider) per-row feature block; at real
    # scale the scan has thousands of splits and no repartition is needed
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    feats = quality_features("text")
    quality = add_gopher_features(
        docs.select(
            "doc_id",
            "lang",
            "text",
            lang_id("text").alias("lang_pred"),
            fingerprint(F.col("text")).alias("fingerprint"),
            feats["n_chars"].alias("n_chars"),
            feats["n_tokens"].alias("n_tokens"),
            feats["avg_token_len"].alias("avg_token_len"),
            feats["stopword_ratio"].alias("stopword_ratio"),
            feats["uniq_ratio"].alias("uniq_ratio"),
            quality_score("text").alias("quality"),
        )
    ).drop("text")
    xent = unigram_cross_entropy(docs).select(
        "doc_id", "xent_sum_micro", "xent_milli", F.col("keep").alias("xent_keep")
    )
    bxent = bigram_cross_entropy(docs, lo_milli=2000, hi_milli=3500).select(
        "doc_id", "bxent_sum_micro", "bxent_milli", F.col("keep").alias("bxent_keep")
    )
    groups = exact_dedup(docs)  # (fingerprint, canonical_id, n_dups)
    # r8 leg: deterministic newline synthesis (5-token lines joined by \n,
    # 3-line paragraphs joined by \n\n) + injected duplicate line/paragraph
    # for fixed doc_id residues, then the table-A1 line/para rules. Helper
    # arrays are materialized columns (gopher.py module-header HOF rule).
    nl = (
        docs.select("doc_id", "text")
        .withColumn("__t", F.split("text", " "))
        .withColumn(
            "__lines",
            F.expr(
                "transform(sequence(0, (size(__t) + 4) DIV 5 - 1), "
                "i -> array_join(slice(__t, i * 5 + 1, 5), ' '))"
            ),
        )
        .withColumn(
            "__paras",
            F.expr(
                "transform(sequence(0, (size(__lines) + 2) DIV 3 - 1), "
                "j -> array_join(slice(__lines, j * 3 + 1, 3), '\\n'))"
            ),
        )
        .withColumn(
            "nl_text",
            F.expr(
                "array_join(__paras, '\\n\\n') || "
                "CASE WHEN doc_id % 7 = 3 "
                "THEN '\\n' || element_at(__lines, 1) ELSE '' END || "
                "CASE WHEN doc_id % 11 = 5 "
                "THEN '\\n\\n' || element_at(__paras, 1) ELSE '' END"
            ),
        )
    )
    nl_feats = add_gopher_line_features(nl, text_col="nl_text").select(
        "doc_id", *GOPHER_LINE_FEATURE_COLS
    )
    from etl_edi_data_scrapper_spark.functions.lang_classifier import (
        fit_lang_classifier,
    )
    from etl_edi_data_scrapper_spark.functions.text import LANG_STOPWORDS

    lang_clf = fit_lang_classifier(docs, langs=sorted(LANG_STOPWORDS))
    return (
        quality.join(xent, "doc_id")
        .join(bxent, "doc_id")
        .join(groups, "fingerprint")
        .join(nl_feats, "doc_id")
        .join(lang_clf, "doc_id")
        .select(
            "doc_id", "lang", "lang_pred", "lang_clf_pred", "lang_clf_score",
            "fingerprint", "n_chars", "n_tokens",
            "avg_token_len", "stopword_ratio", "uniq_ratio", "quality",
            "top2_frac_micro", "top3_frac_micro", "top4_frac_micro",
            "dup5_cov_micro", "dup10_cov_micro", "gopher_keep",
            "dup_line_frac_micro", "dup_para_frac_micro",
            "dup_line_char_micro", "dup_para_char_micro", "gopher_line_keep",
            "xent_sum_micro", "xent_milli", "xent_keep",
            "bxent_sum_micro", "bxent_milli", "bxent_keep",
            "canonical_id", "n_dups",
        )
    )


def _sql_gopher_ctes(top_ns=(2, 3, 4), dup_ns=(5, 10)) -> tuple[str, str, str]:
    """DuckDB replica of functions/gopher.py, stated RELATIONALLY (the
    Spark side is a per-row fold; the oracle is explode → count → rank /
    gaps-and-islands interval union — independent formulations, same
    integers). Returns (ctes, select_cols, join_clauses); composes with
    the text_quality oracle's `tok` CTE (t = string_split(text, ' '))."""
    ctes, cols, joins = [], [], []
    for n in top_ns:
        g, w = f"t{n}", n - 1
        ctes.append(
            f"""{g}g AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(t) - {w}, 0)),
        i -> array_to_string(t[i:i+{w}], ' '))) AS gram FROM tok),
    {g}c AS (SELECT doc_id, gram, count(*) AS cnt FROM {g}g GROUP BY doc_id, gram),
    {g}b AS (
      SELECT doc_id, cnt * length(gram) AS cov,
             row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
      FROM {g}c WHERE cnt >= 2),
    {g}t AS (SELECT doc_id, cov FROM {g}b WHERE rn = 1)"""
        )
        cols.append(
            f"CAST(coalesce({g}t.cov, 0) * 1000000 // greatest(q.n_chars, 1) AS BIGINT)"
            f" AS top{n}_frac_micro"
        )
        joins.append(f"LEFT JOIN {g}t ON {g}t.doc_id = q.doc_id")
    # per-token char offsets (0-based start + length), shared by every
    # dup-n family: cs(i) = sum of (len + 1 space) over prior tokens —
    # exact because split-on-' '/join-with-' ' is an inverse pair, so the
    # source text IS the tokens joined by single spaces
    ctes.append(
        """tkcs AS (
      SELECT doc_id, i - 1 AS pos,
             coalesce(sum(length(t[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cs,
             length(t[i]) AS tl
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok))"""
    )
    for n in dup_ns:
        g, w = f"d{n}", n - 1
        ctes.append(
            f"""{g}g AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(t) - {w}, 0))) - 1 AS pos,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - {w}, 0)),
               i -> array_to_string(t[i:i+{w}], ' '))) AS gram
      FROM tok),
    {g}d AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, gram) AS cnt
        FROM {g}g) WHERE cnt >= 2),
    {g}i AS (
      SELECT d.doc_id, a.cs AS cs, b.cs + b.tl - 1 AS ce
      FROM {g}d d
      JOIN tkcs a ON a.doc_id = d.doc_id AND a.pos = d.pos
      JOIN tkcs b ON b.doc_id = d.doc_id AND b.pos = d.pos + {w}),
    {g}o AS (
      SELECT doc_id, cs, ce,
             max(ce) OVER (PARTITION BY doc_id ORDER BY cs
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      FROM {g}i),
    {g}c AS (
      SELECT doc_id,
             sum(greatest(0, ce - greatest(cs, coalesce(pe, -1) + 1) + 1))
               AS covered
      FROM {g}o GROUP BY doc_id)"""
        )
        cols.append(
            f"CAST(coalesce({g}c.covered, 0) * 1000000 // greatest(q.n_chars, 1) AS BIGINT)"
            f" AS dup{n}_cov_micro"
        )
        joins.append(f"LEFT JOIN {g}c ON {g}c.doc_id = q.doc_id")
    from etl_edi_data_scrapper_spark.functions.gopher import (
        DUP_NGRAM_MAX_MICRO,
        TOP_NGRAM_MAX_MICRO,
    )

    keep_terms = [
        f"coalesce(t{n}t.cov, 0) * 1000000 // greatest(q.n_chars, 1) <= {TOP_NGRAM_MAX_MICRO[n]}"
        for n in top_ns
    ] + [
        f"coalesce(d{n}c.covered, 0) * 1000000 // greatest(q.n_chars, 1)"
        f" <= {DUP_NGRAM_MAX_MICRO[n]}"
        for n in dup_ns
    ]
    cols.append("(" + " AND ".join(keep_terms) + ") AS gopher_keep")
    return ",\n    ".join(ctes), ", ".join(cols), " ".join(joins)


def _sql_gopher_line_ctes() -> tuple[str, str, str]:
    """DuckDB replica of the r8 line/paragraph duplicate leg: rebuild the
    same synthesized newline text (5-token lines, 3-line paragraphs,
    residue-keyed duplicate injections), then duplicates counted
    RELATIONALLY (group-count per segment; engine side is a sorted-run
    fold — independent formulations, same integers)."""
    from etl_edi_data_scrapper_spark.functions.gopher import (
        DUP_LINE_CHAR_MAX_MICRO,
        DUP_LINE_FRAC_MAX_MICRO,
        DUP_PARA_CHAR_MAX_MICRO,
        DUP_PARA_FRAC_MAX_MICRO,
    )

    ctes = f"""nlb AS (
      SELECT doc_id,
             list_transform(generate_series(0, (len(t) + 4) // 5 - 1),
               i -> array_to_string(t[i * 5 + 1 : i * 5 + 5], ' ')) AS lns
      FROM tok),
    nlp AS (
      SELECT doc_id, lns,
             list_transform(generate_series(0, (len(lns) + 2) // 3 - 1),
               j -> array_to_string(lns[j * 3 + 1 : j * 3 + 3], chr(10))) AS prs
      FROM nlb),
    nlt AS (
      SELECT doc_id,
             array_to_string(prs, chr(10) || chr(10))
             || CASE WHEN doc_id % 7 = 3 THEN chr(10) || lns[1] ELSE '' END
             || CASE WHEN doc_id % 11 = 5
                THEN chr(10) || chr(10) || prs[1] ELSE '' END AS nl_text
      FROM nlp),
    nlsg AS (
      SELECT doc_id, unnest(list_filter(string_split(nl_text, chr(10)),
               x -> x <> '')) AS seg FROM nlt),
    nlld AS (
      SELECT doc_id, sum(cnt - 1) AS de,
             sum((cnt - 1) * length(seg)) AS dc, sum(cnt) AS ne
      FROM (SELECT doc_id, seg, count(*) AS cnt FROM nlsg GROUP BY 1, 2)
      GROUP BY 1),
    npsg AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(nl_text, '\\n{{2,}}'),
               x -> x <> '')) AS seg FROM nlt),
    nlpd AS (
      SELECT doc_id, sum(cnt - 1) AS de,
             sum((cnt - 1) * length(seg)) AS dc, sum(cnt) AS ne
      FROM (SELECT doc_id, seg, count(*) AS cnt FROM npsg GROUP BY 1, 2)
      GROUP BY 1)"""
    exprs = {
        "dup_line_frac_micro": "coalesce(ld.de, 0) * 1000000 // greatest(coalesce(ld.ne, 0), 1)",
        "dup_para_frac_micro": "coalesce(pd.de, 0) * 1000000 // greatest(coalesce(pd.ne, 0), 1)",
        "dup_line_char_micro": "coalesce(ld.dc, 0) * 1000000 // greatest(length(nlt.nl_text), 1)",
        "dup_para_char_micro": "coalesce(pd.dc, 0) * 1000000 // greatest(length(nlt.nl_text), 1)",
    }
    limits = {
        "dup_line_frac_micro": DUP_LINE_FRAC_MAX_MICRO,
        "dup_para_frac_micro": DUP_PARA_FRAC_MAX_MICRO,
        "dup_line_char_micro": DUP_LINE_CHAR_MAX_MICRO,
        "dup_para_char_micro": DUP_PARA_CHAR_MAX_MICRO,
    }
    cols = ", ".join(
        [f"CAST({e} AS BIGINT) AS {k}" for k, e in exprs.items()]
        + ["(" + " AND ".join(f"{e} <= {limits[k]}" for k, e in exprs.items())
           + ") AS gopher_line_keep"]
    )
    joins = (
        "JOIN nlt ON nlt.doc_id = q.doc_id "
        "LEFT JOIN nlld ld ON ld.doc_id = q.doc_id "
        "LEFT JOIN nlpd pd ON pd.doc_id = q.doc_id"
    )
    return ctes, cols, joins


def _sql_hex_word(h: str, start: int) -> str:
    """SQL for hex_word (functions/hashing.py): 8 hex chars → bigint via
    instr arithmetic — identical formula on both engines."""
    v = "CAST(0 AS BIGINT)"
    for k in range(8):
        v = f"({v} * 16 + (instr('0123456789abcdef', substring({h}, {start + k}, 1)) - 1))"
    return v


def _sql_bigram_xent_ctes(
    fit_pct: int = 50, alpha_milli: int = 400
) -> str:
    """DuckDB replica of text.py::bigram_cross_entropy: same md5-bucket
    fit half, stupid-backoff rule, add-1 unigram, micro-nat floors —
    composes with the text_quality oracle's `tok` CTE."""
    dword = _sql_hex_word("md5(CAST(doc_id AS VARCHAR))", 1)
    alpha = f"({alpha_milli}.0 / 1000.0)"
    return f"""bxfit AS (
      SELECT doc_id, text FROM documents WHERE ({dword}) % 100 < {fit_pct}),
    bxuni AS (
      SELECT term, count(*) AS ucnt FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM bxfit)
      GROUP BY term),
    bxtot AS (SELECT sum(ucnt) AS total_fit, count(*) AS v_fit FROM bxuni),
    bxbig AS (
      SELECT prev, cur, count(*) AS bcnt FROM (
        SELECT t[i] AS prev, t[i + 1] AS cur FROM (
          SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM (SELECT string_split(text, ' ') AS t FROM bxfit)
          WHERE len(t) >= 2))
      GROUP BY prev, cur),
    bxctx AS (SELECT prev, sum(bcnt) AS ccnt FROM bxbig GROUP BY prev),
    bxdp AS (
      SELECT doc_id, prev, cur, count(*) AS tf FROM (
        SELECT doc_id, t[i] AS prev, t[i + 1] AS cur FROM (
          SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM tok WHERE len(t) >= 2))
      GROUP BY doc_id, prev, cur),
    bxps AS (
      SELECT d.doc_id,
             CAST(sum(d.tf * CAST(floor(-ln(
               CASE WHEN b.bcnt IS NOT NULL
                    THEN b.bcnt::DOUBLE / c.ccnt::DOUBLE
                    ELSE {alpha} * ((coalesce(u.ucnt, 0) + 1)::DOUBLE
                         / (t.total_fit + t.v_fit)::DOUBLE) END
             ) * 1000000) AS BIGINT)) AS BIGINT) AS pair_micro
      FROM bxdp d
      LEFT JOIN bxbig b ON b.prev = d.prev AND b.cur = d.cur
      LEFT JOIN bxctx c ON c.prev = d.prev
      LEFT JOIN bxuni u ON u.term = d.cur
      CROSS JOIN bxtot t
      GROUP BY d.doc_id),
    bxfs AS (
      SELECT tok.doc_id,
             CAST(floor(-ln((coalesce(u.ucnt, 0) + 1)::DOUBLE
               / (t.total_fit + t.v_fit)::DOUBLE) * 1000000) AS BIGINT)
               AS first_micro,
             CAST(len(tok.t) AS BIGINT) AS n_tokens
      FROM tok LEFT JOIN bxuni u ON u.term = tok.t[1] CROSS JOIN bxtot t),
    bxm AS (
      SELECT f.doc_id,
             coalesce(p.pair_micro, 0) + f.first_micro AS bxent_sum_micro,
             ((coalesce(p.pair_micro, 0) + f.first_micro) // f.n_tokens) // 1000
               AS bxent_milli
      FROM bxfs f LEFT JOIN bxps p USING (doc_id))"""


def _lang_clf_ctes(
    langs: tuple[str, ...] = ("de", "en", "es", "fr", "zh"),
    n_buckets: int = 64,
    n_epochs: int = 2,
    max_fit_rows: int = 65536,
) -> str:
    """DuckDB replica of functions/lang_classifier.py: the MULTICLASS
    integer perceptron over hashed char-trigram buckets, epochs unrolled
    as CTEs (the class-dimensioned generalization of `_clf_ctes`). Epoch
    e scores every doc for every class with the post-epoch-(e−1) weights
    (epoch 1 sees all-zero scores, so everyone predicts the asc-first
    language code — that IS the algorithm, identically in Spark), picks
    argmax (score desc, class asc), and every mistake adds its trigram
    counts to the true class / subtracts them from the predicted class.
    The fit set is capped at the ``max_fit_rows`` labeled docs whose
    md5(id) sorts lowest (row_number CTE) — replicating
    `fit_lang_classifier`'s bounded driver-resident sample exactly at
    any corpus size. ALL integer arithmetic, sums CAST to BIGINT
    (HUGEINT discipline)."""
    word = _sql_hex_word("md5(gram)", 1)
    in_list = ", ".join(f"'{lg}'" for lg in langs)
    cls_values = ", ".join(f"('{lg}')" for lg in langs)
    parts = [
        f"""
    lgr AS (
      SELECT doc_id, unnest(list_transform(
        range(1, greatest(len(t) - 2, 1) + 1),
        i -> substr(t, i, 3))) AS gram
      FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)),
    ltf AS (
      SELECT doc_id, ({word}) % {n_buckets} AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM lgr GROUP BY doc_id, bucket),
    lcls AS (SELECT cls FROM (VALUES {cls_values}) v(cls)),
    llab AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        FROM documents WHERE lang IN ({in_list}))
      WHERE rn <= {max_fit_rows}),
    lw0 AS (SELECT CAST(NULL AS VARCHAR) AS cls, CAST(NULL AS BIGINT) AS bucket,
                   CAST(NULL AS BIGINT) AS w WHERE 1 = 0),
    lb0 AS (SELECT cls, CAST(0 AS BIGINT) AS b FROM lcls)"""
    ]
    for e in range(1, n_epochs + 1):
        p = e - 1
        parts.append(
            f"""
    ls{e} AS (
      SELECT t.doc_id, c.cls,
             CAST(coalesce(sum(t.tf * w.w), 0) + min(b.b) AS BIGINT) AS s
      FROM ltf t JOIN llab USING (doc_id)
      CROSS JOIN lcls c
      LEFT JOIN lw{p} w ON w.cls = c.cls AND w.bucket = t.bucket
      JOIN lb{p} b ON b.cls = c.cls
      GROUP BY t.doc_id, c.cls),
    lp{e} AS (
      SELECT doc_id, cls AS pred FROM (
        SELECT doc_id, cls,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, cls ASC) AS rn
        FROM ls{e}) WHERE rn = 1),
    lm{e} AS (
      SELECT p.doc_id, l.lang AS cls, CAST(1 AS BIGINT) AS sign
      FROM lp{e} p JOIN llab l USING (doc_id) WHERE l.lang <> p.pred
      UNION ALL
      SELECT p.doc_id, p.pred AS cls, CAST(-1 AS BIGINT) AS sign
      FROM lp{e} p JOIN llab l USING (doc_id) WHERE l.lang <> p.pred),
    lg{e} AS (
      SELECT m.cls, t.bucket, CAST(sum(m.sign * t.tf) AS BIGINT) AS g
      FROM lm{e} m JOIN ltf t USING (doc_id) GROUP BY m.cls, t.bucket),
    lw{e} AS (
      SELECT coalesce(w.cls, g.cls) AS cls,
             coalesce(w.bucket, g.bucket) AS bucket,
             CAST(coalesce(w.w, 0) + coalesce(g.g, 0) AS BIGINT) AS w
      FROM lw{p} w FULL JOIN lg{e} g
        ON w.cls = g.cls AND w.bucket = g.bucket),
    lb{e} AS (
      SELECT b.cls,
             CAST(b.b + coalesce(gb.g, 0) AS BIGINT) AS b
      FROM lb{p} b LEFT JOIN (
        SELECT cls, CAST(sum(sign) AS BIGINT) AS g
        FROM lm{e} GROUP BY cls) gb USING (cls))"""
        )
    parts.append(
        f"""
    lsf AS (
      SELECT t.doc_id, c.cls,
             CAST(coalesce(sum(t.tf * w.w), 0) + min(b.b) AS BIGINT) AS s
      FROM ltf t
      CROSS JOIN lcls c
      LEFT JOIN lw{n_epochs} w ON w.cls = c.cls AND w.bucket = t.bucket
      JOIN lb{n_epochs} b ON b.cls = c.cls
      GROUP BY t.doc_id, c.cls),
    lclf AS (
      SELECT doc_id, cls AS lang_clf_pred, s AS lang_clf_score FROM (
        SELECT doc_id, cls, s,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, cls ASC) AS rn
        FROM lsf) WHERE rn = 1)"""
    )
    return ",".join(parts)


def _text_quality_oracle() -> str:
    from etl_edi_data_scrapper_spark.functions.text import LANG_STOPWORDS

    gopher_ctes, gopher_cols, gopher_joins = _sql_gopher_ctes()
    line_ctes, line_cols, line_joins = _sql_gopher_line_ctes()
    bx_ctes = _sql_bigram_xent_ctes()
    scores = ", ".join(
        f"{_sql_lang_score(w)} AS s_{lang}" for lang, w in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    mx = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pick = " ".join(f"WHEN s_{lg} = {mx} THEN '{lg}'" for lg in langs[:-1])
    return f"""
    WITH tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
    sc AS (SELECT doc_id, lang, text, t, {scores} FROM tok),
    q AS (
    SELECT doc_id, lang,
      CASE WHEN {mx} = 0 THEN 'und' {pick} ELSE '{langs[-1]}' END AS lang_pred,
      md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
      length(text)::BIGINT AS n_chars,
      len(t)::BIGINT AS n_tokens,
      (length(text) - (len(t) - 1))::DOUBLE / len(t)::DOUBLE AS avg_token_len,
      len(list_filter(t, x -> list_contains({_SQL_EN_STOP}, x)))::DOUBLE
        / len(t)::DOUBLE AS stopword_ratio,
      len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS uniq_ratio,
      0.4 * least(len(t)::DOUBLE / 100.0, 1.0)
        + 0.3 * least((len(list_filter(t, x -> list_contains({_SQL_EN_STOP}, x)))::DOUBLE
                       / len(t)::DOUBLE) * 4, 1.0)
        + 0.3 * (len(list_distinct(t))::DOUBLE / len(t)::DOUBLE) AS quality
    FROM sc),
    {_XENT_CTES.strip()},
    grp AS (
      SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
             min(doc_id) AS canonical_id,
             count(*) AS n_dups
      FROM documents GROUP BY 1),
    {gopher_ctes},
    {line_ctes},
    {bx_ctes},
    {_lang_clf_ctes()}
    SELECT q.doc_id, q.lang, q.lang_pred,
           lclf.lang_clf_pred, lclf.lang_clf_score,
           q.fingerprint, q.n_chars, q.n_tokens,
           q.avg_token_len, q.stopword_ratio, q.uniq_ratio, q.quality,
           {gopher_cols},
           {line_cols},
           xm.xent_sum_micro, xm.xent_milli,
           xm.xent_milli BETWEEN 2000 AND 6000 AS xent_keep,
           bxm.bxent_sum_micro, bxm.bxent_milli,
           bxm.bxent_milli BETWEEN 2000 AND 3500 AS bxent_keep,
           grp.canonical_id, grp.n_dups
    FROM q JOIN xm ON xm.doc_id = q.doc_id
      JOIN bxm ON bxm.doc_id = q.doc_id
      JOIN grp ON grp.fingerprint = q.fingerprint
      JOIN lclf ON lclf.doc_id = q.doc_id
      {gopher_joins}
      {line_joins}
    """


ORACLES["text_quality"] = _text_quality_oracle()


_LSH_MAX_BUCKET = 256  # caps per-band-bucket pair work at 256²/2


def _minhash_oracle(
    n_hashes: int = 12, bands: int = 4, max_bucket: int | None = None
) -> str:
    rows = n_hashes // bands
    hs = ", ".join(
        f"min((w1 + {j} * w2) % 4294967296) AS h{j}" for j in range(n_hashes)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ':' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    # max_bucket replicates bucket_pairs' deterministic truncation: each
    # (band, band_key) bucket keeps only its max_bucket smallest doc_ids
    # (engine: sorted-array slice ≡ this rank window), so the guard-on
    # candidate set is bit-identical on both engines.
    if max_bucket is None:
        bands_cte = f"bands AS ({band_rows})"
    else:
        bands_cte = f"""bands0 AS ({band_rows}),
    bands AS (
      SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               row_number() OVER (PARTITION BY band, band_key
                                  ORDER BY doc_id) AS rk
        FROM bands0)
      WHERE rk <= {max_bucket})"""
    sh = _SQL_SHINGLES.format(t="t")
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shingled AS (SELECT doc_id, {sh} AS shingles FROM tok),
    ex AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM shingled),
    words AS (SELECT doc_id, {_sql_hex_word("h", 1)} AS w1,
                     {_sql_hex_word("h", 9)} AS w2 FROM ex),
    sig AS (SELECT doc_id, {hs} FROM words GROUP BY doc_id),
    {bands_cte},
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
      WHERE l.doc_id < r.doc_id),
    verified AS (
      SELECT a, b,
        len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE AS jaccard
      FROM cand
      JOIN shingled sa ON sa.doc_id = a
      JOIN shingled sb ON sb.doc_id = b)
    SELECT a, b, jaccard FROM verified
    """


def _dedup_clusters_oracle(
    threshold: float = 0.5, train_pct: int = 90, seed: int = 0
) -> str:
    """Min-reachable-id per node over the verified dup-pair graph —
    a recursive CTE replicates the label-propagation fixpoint exactly —
    left-joined back to every document (singletons are their own
    cluster), plus the leakage-safe split bucket on the CLUSTER
    canonical (functions/splits.py formula)."""
    canon = "coalesce(c.cl, d.doc_id)"
    bucket = _sql_hex_word(f"md5('{seed}:' || CAST({canon} AS VARCHAR))", 1)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a, b FROM ({_minhash_oracle(max_bucket=_LSH_MAX_BUCKET)}) t WHERE jaccard >= {threshold}
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (
      SELECT node AS doc_id, min(lbl) AS cl FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           {canon} AS cluster_id,
           ({canon} = d.doc_id) AS is_canonical,
           CASE WHEN ({bucket}) % 100 < {train_pct}
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """


@register("dedup_clusters", oracle=_dedup_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS → leakage-safe train/test
    split, the full dedup decision chain: connected components over
    jaccard-verified MinHash pairs (canonical = min doc_id per
    component; iterative min-label propagation — rounds = component
    diameter, near-cliques: 2-3, one shuffle per round; see
    `functions/dedup.connected_components` for the 100 TB shape), then
    `functions/splits.cluster_aware_split` assigns EVERY document a
    90/10 split hashed on its cluster's canonical id — so a test
    document's near-duplicates can never leak into train (all members
    of a cluster share the canonical, hence the bucket). One row per
    document; singletons are their own cluster.
    [r6: grain widened from clustered-docs-only to all documents, and
    the split column added — the split leg of the r3 `stratified_sample`
    consolidation upgraded to the leakage-safe form.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
        minhash_candidate_pairs,
    )
    from etl_edi_data_scrapper_spark.functions.splits import cluster_aware_split

    docs = _t(spark, sf_dir, "documents")
    cand, bound = minhash_candidate_pairs(
        docs, n_hashes=12, bands=4, max_bucket=_LSH_MAX_BUCKET,
        with_bound=True,
    )
    verified = jaccard_pairs(docs, cand, pair_bound=bound).filter(
        F.col("jaccard") >= 0.5
    )
    comps = connected_components(verified)
    return cluster_aware_split(docs, comps).select(
        "doc_id", "cluster_id", "is_canonical", "split"
    )


def _winnow_pairs_oracle(
    n: int = 3, w: int = 8, max_df: int = 5, min_shared: int = 3
) -> str:
    return f"""
    WITH nrm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      FROM documents),
    h AS (SELECT doc_id,
            CASE WHEN len(t) >= {n}
                 THEN list_transform(range(1, len(t) - {n} + 2),
                        i -> md5(array_to_string(list_slice(t, i, i + {n} - 1), ' ')))
                 ELSE CAST([] AS VARCHAR[]) END AS hs
          FROM nrm),
    m AS (SELECT doc_id,
            CASE WHEN len(hs) >= 1
                 THEN list_distinct(list_transform(
                        range(1, greatest(1, len(hs) - {w} + 1) + 1),
                        j -> list_min(list_slice(hs, j, j + {w} - 1))))
                 ELSE CAST([] AS VARCHAR[]) END AS fps
          FROM h),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    keep AS (SELECT fp FROM fp GROUP BY fp
             HAVING count(DISTINCT doc_id) BETWEEN 2 AND {max_df}),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b,
             CAST(count(DISTINCT l.fp) AS BIGINT) AS n_shared
      FROM fp l JOIN keep kp ON l.fp = kp.fp JOIN fp r ON l.fp = r.fp
      WHERE l.doc_id < r.doc_id
      GROUP BY 1, 2)
    SELECT a, b, n_shared FROM pairs WHERE n_shared >= {min_shared}
    """


@register("minhash_lsh", oracle=None)  # filled below (3-leg union)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pair detection, three modalities tagged by ``leg``:

    * 'lsh' — MinHash+LSH candidates with exact Jaccard verification:
      candidate generation is a band-key equi-join (NO all-pairs), verify
      touches only collided pairs — the doc-level sketch path at scale;
    * 'allpairs' — exact n-gram Jaccard on an explicit candidate set (all
      pairs of a 40-doc slice): the verification stage isolated;
    * 'winnow' — POSITIONAL overlap via winnowing fingerprints
      (Schleimer/Wilkerson/Aiken SIGMOD'03 — the MOSS scheme over word
      n-grams, `functions/dedup.py::winnowing_shared_pairs`): any shared
      run of ≥ n+w−1 words guarantees a shared window-minimum
      fingerprint, surfacing long shared passages whose whole-document
      Jaccard sits far below the LSH threshold; the > max_df
      stop-fingerprint guard bounds the self-join at Σ df(fp)², never
      all-pairs. ``score`` is the leg's native measure (jaccard /
      jaccard / shared-fingerprint count).

    [r5 consolidation: absorbs `ngram_jaccard` and `winnow_pairs` to fit
    the driver's 50-query correctness cap — every leg's values stay
    hash-checked.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
        winnowing_shared_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    cand, bound = minhash_candidate_pairs(
        docs, n_hashes=12, bands=4, max_bucket=_LSH_MAX_BUCKET,
        with_bound=True,
    )
    lsh = jaccard_pairs(docs, cand, pair_bound=bound)

    slice40 = docs.filter(F.col("doc_id") < 40)
    ids = slice40.select(F.col("doc_id"))
    allpairs_cand = (
        ids.select(F.col("doc_id").alias("a"))
        .crossJoin(ids.select(F.col("doc_id").alias("b")))
        .filter(F.col("a") < F.col("b"))
    )
    # structural bound: a 40-id cross product is < 40·39/2 pairs
    allpairs = jaccard_pairs(slice40, allpairs_cand, pair_bound=780)

    winnow = winnowing_shared_pairs(docs, n=3, w=8, max_df=5, min_shared=3)

    def tag(df: DataFrame, leg: str, score: str) -> DataFrame:
        return df.select(
            F.lit(leg).alias("leg"), "a", "b",
            F.col(score).cast("double").alias("score"),
        )

    return (
        tag(lsh, "lsh", "jaccard")
        .unionByName(tag(allpairs, "allpairs", "jaccard"))
        .unionByName(tag(winnow, "winnow", "n_shared"))
    )


_NGRAM_ALLPAIRS_ORACLE = f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                 WHERE doc_id < 40),
    shingled AS (SELECT doc_id, {_SQL_SHINGLES.format(t="t")} AS shingles FROM tok)
    SELECT a.doc_id AS a, b.doc_id AS b,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE /
           (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)))::DOUBLE AS jaccard
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    """

ORACLES["minhash_lsh"] = f"""
    SELECT 'lsh' AS leg, a, b, jaccard AS score FROM ({_minhash_oracle(max_bucket=_LSH_MAX_BUCKET)}) t
    UNION ALL
    SELECT 'allpairs' AS leg, a, b, jaccard AS score
    FROM ({_NGRAM_ALLPAIRS_ORACLE}) t
    UNION ALL
    SELECT 'winnow' AS leg, a, b, CAST(n_shared AS DOUBLE) AS score
    FROM ({_winnow_pairs_oracle()}) t
    """


def _neardup_increment_oracle(n_hashes: int = 12, bands: int = 6, threshold: float = 0.5) -> str:
    """DuckDB replica of `streaming/neardup_stream.dedup_batch_against_store`
    run as two increments over the documents table: seed = even doc_ids
    (its intra-batch cluster canonicals become the accepted store), then
    the odd half dedups against that store. Signature/band arithmetic
    reuses the `_minhash_oracle` fragments; the candidate verify is the
    SIGNATURE-AGREEMENT Jaccard estimator (fraction of matching minhash
    components), exactly as the streaming code computes it; intra-batch
    clustering is the min-reachable-id recursive CTE from
    `_dedup_clusters_oracle`."""
    rows = n_hashes // bands
    hs = ", ".join(
        f"min((w1 + {j} * w2) % 4294967296) AS h{j}" for j in range(n_hashes)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ':' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    agree = (
        "("
        + " + ".join(
            f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END" for j in range(n_hashes)
        )
        + f")::DOUBLE / {n_hashes} >= {threshold}"
    )
    sh = _SQL_SHINGLES.format(t="t")

    def cluster_ctes(tag: str, parity: int) -> str:
        # verified intra-batch pairs (band collision + signature agreement)
        # -> min-reachable-id per doc = the batch's cluster canonical
        return f"""
    {tag}_pairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
      JOIN sig sa ON sa.doc_id = l.doc_id
      JOIN sig sb ON sb.doc_id = r.doc_id
      WHERE l.doc_id % 2 = {parity} AND r.doc_id % 2 = {parity}
        AND l.doc_id < r.doc_id AND {agree}),
    {tag}_edges AS (
      SELECT a AS src, b AS dst FROM {tag}_pairs
      UNION ALL SELECT b AS src, a AS dst FROM {tag}_pairs),
    {tag}_reach(node, lbl) AS (
      SELECT src, src FROM {tag}_edges
      UNION
      SELECT e.src, r.lbl FROM {tag}_edges e JOIN {tag}_reach r ON r.node = e.dst),
    {tag}_canon AS (
      SELECT d.doc_id,
             coalesce((SELECT min(lbl) FROM {tag}_reach r WHERE r.node = d.doc_id),
                      d.doc_id) AS canon
      FROM documents d WHERE d.doc_id % 2 = {parity})"""

    return f"""
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shingled AS (SELECT doc_id, {sh} AS shingles FROM tok),
    ex AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM shingled),
    words AS (SELECT doc_id, {_sql_hex_word("h", 1)} AS w1,
                     {_sql_hex_word("h", 9)} AS w2 FROM ex),
    sig AS (SELECT doc_id, {hs} FROM words GROUP BY doc_id),
    bands AS ({band_rows}),
    {cluster_ctes("seed", 0)},
    accepted AS (
      SELECT doc_id FROM seed_canon WHERE doc_id = canon),
    {cluster_ctes("batch", 1)},
    hist AS (
      SELECT l.doc_id, min(r.doc_id) AS dup_of_store
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
      JOIN accepted acc ON acc.doc_id = r.doc_id
      JOIN sig sa ON sa.doc_id = l.doc_id
      JOIN sig sb ON sb.doc_id = r.doc_id
      WHERE l.doc_id % 2 = 1 AND {agree}
      GROUP BY l.doc_id)
    SELECT bc.doc_id,
           CASE WHEN bc.doc_id = bc.canon THEN hc.dup_of_store
                ELSE coalesce(hc.dup_of_store, bc.canon) END AS dup_of
    FROM batch_canon bc
    LEFT JOIN hist hc ON hc.doc_id = bc.canon
    """


@register("neardup_increment", oracle=_neardup_increment_oracle())
def q_neardup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingestion shape through the oracle gate: the
    incremental near-dup (`streaming/neardup_stream.py`) run as two batch
    increments — the even half of `documents` seeds the accumulated
    band-key store (its intra-batch cluster canonicals are the accepted
    corpus), then the odd half dedups against that store. Covers, hash-
    checked: signature/band-key generation, the band equi-join against the
    store (candidates only — no history rescan), the signature-agreement
    Jaccard estimator, intra-batch connected-components canonicalization,
    and the admitted-representative verdict inheritance. The store is a
    per-run temp directory removed before returning — the operator's
    eager localCheckpoint makes the returned frame re-evaluable without
    the store files, so nothing leaks across correctness/bench/plan-lint
    passes."""
    import shutil
    import tempfile

    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="etl_ndq_")
    try:
        store = root + "/store"
        seed = docs.filter(F.col("doc_id") % 2 == 0)
        dedup_batch_against_store(spark, seed, store)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        verdict = dedup_batch_against_store(spark, batch, store)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return verdict.select("doc_id", "dup_of")


@register(
    "vocab_topk",
    oracle=None,  # filled below (needs _sql_shingles, defined earlier)
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM vocabulary / n-gram statistics: corpus-wide top-100 unigram and
    top-50 bigram frequencies (deterministic (freq desc, gram asc)
    tiebreak). Each leg is explode → one groupBy with map-side partials
    (shuffle = distinct grams, not corpus size) → TakeOrderedAndProject
    (per-partition heaps, no global sort); bigrams reuse the dedup path's
    distinct-per-doc shingle arrays.
    [r3 consolidation: absorbs the former `ngram_counts` query.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import shingles

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(F.explode(F.split("text", " ")).alias("gram"))
    uni = (
        toks.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("gram"))
        .limit(100)
        .select(F.lit(1).alias("n"), "gram", "freq")
    )
    grams = docs.select(F.explode(shingles("text", 2)).alias("gram"))
    bi = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("gram"))
        .limit(50)
        .select(F.lit(2).alias("n"), "gram", "freq")
    )
    return uni.unionByName(bi)


ORACLES["vocab_topk"] = f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
    ucounts AS (SELECT t AS gram, count(*) AS freq FROM tok GROUP BY t),
    docs2 AS (SELECT string_split(text, ' ') AS t FROM documents),
    bigrams AS (SELECT unnest({_sql_shingles("t", 2)}) AS g FROM docs2),
    bcounts AS (SELECT g AS gram, count(*) AS freq FROM bigrams GROUP BY g)
    SELECT CAST(1 AS INT) AS n, gram, freq FROM
      (SELECT gram, freq FROM ucounts ORDER BY freq DESC, gram ASC LIMIT 100)
    UNION ALL
    SELECT CAST(2 AS INT) AS n, gram, freq FROM
      (SELECT gram, freq FROM bcounts ORDER BY freq DESC, gram ASC LIMIT 50)
    """


def _text_fingerprints_select() -> str:
    from etl_edi_data_scrapper_spark.functions.text import (
        BPE_SPLIT_COUNT_FIXES,
        BPE_SPLIT_PATTERN,
        ROLLING_B,
        ROLLING_M,
    )

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    fixes = " ".join(
        f"{'+' if sign > 0 else '-'} len(regexp_extract_all(text, "
        f"'{p.replace(chr(39), chr(39) * 2)}'))"
        for p, sign in BPE_SPLIT_COUNT_FIXES
    )
    word = _sql_hex_word("md5(t)", 1)
    return f"""
    SELECT doc_id,
      len(regexp_extract_all(text, '{pat}')) {fixes} AS bpe_tokens,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), t -> {word})),
        (a, b) -> (a * {ROLLING_B} + b) % {ROLLING_M}) AS rolling_fp
    FROM documents
    """


@register("text_fingerprints", oracle=None)  # assigned below (needs simhash CTEs)
def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint suite: BPE-ish token counting (GPT-2-style
    pre-tokenizer segment count, one RE2-safe regexp_extract_all) +
    order-sensitive rolling-hash fingerprint (polynomial fold over
    md5-derived token words) — both pure Column exprs, JVM-side — joined
    with the 32-bit SimHash signature (explode tokens → one groupBy with 32
    conditional sums, single shuffle with map-side partials). The join is
    doc_id-equi (the fingerprint side is a narrow projection of the same
    scan). [r3 consolidation: absorbs the former `simhash` query;
    `simhash_pairs` keeps the near-pair path oracled.]

    r7 adds the POSITION-INVARIANT span-dedup leg
    (`span_dedup.dedup_spans_sliding` — the stride-1 /
    fixed-minimum-length analogue of suffix-array ExactSubstr, closing
    the cross-residue gap the grid-based `pii_scrub` leg documents): per
    doc, `exsub_dropped` = tokens removed because an 8-token sliding
    window they sit in repeats corpus-wide at ANY offset, and
    `exsub_clean_fp` = md5 of the cleaned text (fingerprint, not the
    text, through the driver compare). Shuffle rows are one (md5,
    doc_id, pos) per TOKEN — width× the grid pass, the price of
    positional invariance; 4.7 % of corpus tokens drop at sf0.1.

    r9 completes the span-dedup ladder in the same query: the
    variable-minimum-length ExactSubstr leg
    (`span_dedup.exact_substr_dedup`, min_len=5, maximal-run cut lists —
    one (start, end) range per shared passage instead of one entry per
    window) over a deterministic injection: a 19-token banner
    (doc_id%5=0, long maximal runs) and a 5-token quote (doc_id%7=2) —
    BELOW width 8, so the sliding leg above provably cannot see it
    (pinned in tests/test_span_splits.py); min_len as a knob is what
    catches it. Cols `xs_spans_cut`/`xs_tokens_cut`/`xs_clean_fp`.
    [r9 consolidation: the standalone `exact_substr` query folded in to
    hold the driver's 50-query correctness cap.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import simhash
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_sliding,
        exact_substr_dedup,
    )
    from etl_edi_data_scrapper_spark.functions.text import (
        bpe_token_count,
        rolling_fingerprint,
    )

    # widen the single-file scan: regex segmentation + the rolling fold are
    # CPU-heavy narrow work, worthless on one input split
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    fp = docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
        rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )
    sig = simhash(docs, bits=32)
    exsub = dedup_spans_sliding(docs, width=8).select(
        "doc_id",
        F.col("n_tokens_dropped").cast("long").alias("exsub_dropped"),
        F.md5("clean_text").alias("exsub_clean_fp"),
    )
    xs = exact_substr_dedup(
        docs.select("doc_id", F.expr(_XS_INJECT).alias("text")), min_len=5
    ).select(
        "doc_id",
        F.col("n_spans_cut").alias("xs_spans_cut"),
        F.col("n_tokens_cut").alias("xs_tokens_cut"),
        F.md5("clean_text").alias("xs_clean_fp"),
    )
    return fp.join(sig, "doc_id").join(exsub, "doc_id").join(xs, "doc_id")


# ---------------------------------------------------------------------------
# PII scrubbing: the documents table has no PII, so inject synthetic markers
# deterministically (same CASE text on both engines — the dirty-feed trick),
# then scrub + count. Patterns come from functions.text.PII_PATTERNS (one
# source of truth, RE2/Java-parity syntax).
# ---------------------------------------------------------------------------

_PII_INJECT = (
    "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',"
    " CAST(doc_id AS STRING), '@example.com or x', CAST(doc_id AS STRING),"
    " '@mail.example.org') "
    "WHEN doc_id % 11 = 0 THEN concat('call +1 555-01',"
    " CAST(doc_id % 100 AS STRING), ' or host 10.0.',"
    " CAST(doc_id % 256 AS STRING), '.7 ', text) "
    "ELSE text END"
)


# 16 words = exactly two 8-word spans, so the prefix is span-ALIGNED in
# every doc_id%5=0 document — the boilerplate-header shape (nav chrome,
# license banners) cross-document span dedup exists to catch. The
# documents table has organic near-dups but few exact aligned spans, so
# inject deterministically (same literal on both engines). r7 adds the
# SHIFTED variant: doc_id%5=1 docs get a UNIQUE 4-token lead-in before the
# same boilerplate, putting it at grid residue 4 — invisible to the
# aligned pass (every grid span mixes unique prefix or differing text),
# caught exactly by dedup_spans_multi's offset-4 pass.
_SPAN_BOILERPLATE = (
    "home about contact privacy terms copyright all rights reserved "
    "site map search login register subscribe newsletter"
)
_SPAN_INJECT = (
    f"CASE WHEN doc_id % 5 = 0 THEN concat('{_SPAN_BOILERPLATE} ', text) "
    "WHEN doc_id % 5 = 1 THEN concat("
    "'u', CAST(doc_id AS STRING), ' v', CAST(doc_id AS STRING), "
    "' w', CAST(doc_id AS STRING), ' x', CAST(doc_id AS STRING), "
    f"' {_SPAN_BOILERPLATE} ', text) "
    "ELSE text END"
)


# C4 leg synthesis (r8): the corpus has neither newlines nor punctuation,
# so the C4 line rules (functions/c4.py) get a DETERMINISTIC punctuated
# variant: 4-token lines; (doc_id+i)%3=2 lines get NO terminal period
# (punct-rule drop), (doc_id+i)%7=6 lines a 'javascript ' prefix (js-rule
# drop); short tail lines exercise min-words organically. Page injections:
# doc_id%23=13 appends a policy line (line-rule drop), doc_id%17=9 a
# curly-brace line and doc_id%19=11 a lorem-ipsum lead (page drops).
_C4_LINES_SPARK = (
    "transform(sequence(0, (size(__t) + 3) DIV 4 - 1), "
    "i -> array_join(slice(__t, i * 4 + 1, 4), ' '))"
)
_C4_MARK_SPARK = (
    "transform(__ln, (x, i) -> "
    "CASE WHEN (doc_id + i) % 7 = 6 THEN 'javascript ' || x ELSE x END || "
    "CASE WHEN (doc_id + i) % 3 = 2 THEN '' ELSE '.' END)"
)
_C4_TEXT_SPARK = (
    "CASE WHEN doc_id % 19 = 11 THEN 'lorem ipsum dolor sit.' || '\\n' "
    "ELSE '' END || array_join(__ln2, '\\n') || "
    "CASE WHEN doc_id % 23 = 13 THEN '\\n' || 'see our privacy policy.' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 17 = 9 THEN '\\n' || '{ config }.' ELSE '' END || "
    # r9 badwords leg: punctuation-hugging form exercises the token trim
    "CASE WHEN doc_id % 29 = 3 THEN '\\n' || 'and (Badword.) appears here.' "
    "ELSE '' END"
)


def _sql_c4_ctes(min_words: int = 3, min_sentences: int = 5) -> str:
    """DuckDB replica of the C4 leg: same synthesized punctuated text
    (1-based lambda index → doc_id + i - 1), same line/page rules."""
    from etl_edi_data_scrapper_spark.functions.c4 import (
        C4_BADWORDS_PLACEHOLDER,
        POLICY_PHRASES,
    )

    policy = " ".join(
        f"AND NOT contains(lower(x), '{p}')" for p in POLICY_PHRASES
    )
    badwords = "[" + ", ".join(f"'{w}'" for w in C4_BADWORDS_PLACEHOLDER) + "]"
    return f"""c4b AS (
      SELECT doc_id,
             list_transform(generate_series(0, (len(t) + 3) // 4 - 1),
               i -> array_to_string(t[i * 4 + 1 : i * 4 + 4], ' ')) AS ln
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    c4i AS (
      SELECT doc_id,
             list_transform(ln, (x, i) ->
               (CASE WHEN (doc_id + i - 1) % 7 = 6
                     THEN 'javascript ' || x ELSE x END)
               || (CASE WHEN (doc_id + i - 1) % 3 = 2 THEN '' ELSE '.' END))
               AS ln2
      FROM c4b),
    c4t AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 19 = 11
                   THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END)
             || array_to_string(ln2, chr(10))
             || (CASE WHEN doc_id % 23 = 13
                      THEN chr(10) || 'see our privacy policy.' ELSE '' END)
             || (CASE WHEN doc_id % 17 = 9
                      THEN chr(10) || '{{ config }}.' ELSE '' END)
             || (CASE WHEN doc_id % 29 = 3
                      THEN chr(10) || 'and (Badword.) appears here.'
                      ELSE '' END) AS c4_text
      FROM c4i),
    c4k AS (
      SELECT doc_id, c4_text, string_split(c4_text, chr(10)) AS ls,
             list_filter(list_transform(string_split(c4_text, chr(10)),
                 x -> regexp_replace(x, '^[ \t\r]+|[ \t\r]+$', '', 'g')), x ->
               regexp_matches(x, '[.!?"]$')
               AND len(string_split(x, ' ')) >= {min_words}
               AND NOT contains(lower(x), 'javascript')
               {policy}) AS ks
      FROM c4t),
    c4m AS (
      SELECT doc_id,
             len(ls)::BIGINT AS c4_n_lines,
             len(ks)::BIGINT AS c4_n_kept,
             (NOT contains(lower(c4_text), 'lorem ipsum')
              AND NOT contains(c4_text, '{{')
              AND len(ks) >= {min_sentences}) AS c4_keep,
             md5(array_to_string(ks, chr(10))) AS c4_clean_fp,
             len(list_filter(string_split_regex(lower(c4_text), '\\s+'),
                 x -> list_contains({badwords},
                        regexp_replace(x, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g'))
                 ))::BIGINT AS c4_badword_hits
      FROM c4k)"""


def _pii_oracle() -> str:
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        line_dedup_oracle_sql,
        span_dedup_multi_oracle_sql,
    )
    from etl_edi_data_scrapper_spark.functions.text import PII_PATTERNS

    scrubbed = "injected"
    for pattern, tag in PII_PATTERNS.values():
        scrubbed = f"regexp_replace({scrubbed}, '{pattern}', '{tag}', 'g')"
    counts = ",\n      ".join(
        f"len(regexp_extract_all(injected, '{pattern}'))::BIGINT AS n_{kind}"
        for kind, (pattern, _tag) in PII_PATTERNS.items()
    )
    inject = _PII_INJECT.replace("AS STRING", "AS VARCHAR")
    sinject = _SPAN_INJECT.replace("AS STRING", "AS VARCHAR")
    span_sql = span_dedup_multi_oracle_sql(table="sfeed", width=8)
    return f"""
    WITH feed AS (SELECT doc_id, {inject} AS injected FROM documents),
    sfeed AS (SELECT doc_id, {sinject} AS text FROM documents),
    sp AS (SELECT * FROM ({span_sql}) t),
    scrub AS (
      SELECT doc_id, {scrubbed} AS clean_text,
        {counts}
      FROM feed),
    tok AS (SELECT *, string_split(clean_text, ' ') AS t FROM scrub),
    {_sql_c4_ctes()},
    {line_dedup_oracle_sql(table="c4t", text_col="c4_text")}
    SELECT doc_id, tok.clean_text, n_email, n_ipv4, n_phone,
           len(t)::BIGINT AS n_before,
           len(list_filter(t, (x, i) -> i = 1 OR x != t[i - 1]))::BIGINT AS n_after,
           array_to_string(list_filter(t, (x, i) -> i = 1 OR x != t[i - 1]), ' ')
             AS collapsed_text,
           sp.n_spans, sp.n_spans_dropped,
           sp.clean_text AS span_clean_text,
           c4m.c4_n_lines, c4m.c4_n_kept, c4m.c4_keep, c4m.c4_clean_fp,
           c4m.c4_badword_hits, c4m.c4_badword_hits = 0 AS c4_badwords_keep,
           ldm.n_lines AS ld_n_lines, ldm.n_lines_cut AS ld_lines_cut,
           md5(ldm.clean_text) AS ld_clean_fp
    FROM tok JOIN sp USING (doc_id) JOIN c4m USING (doc_id)
         JOIN ldm USING (doc_id)
    """


@register("pii_scrub", oracle=_pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization pass: typed-tag PII redaction (email/IPv4/phone)
    with per-type counts, then within-document repetition removal
    (consecutive duplicate tokens collapse to one — the cheap intra-doc
    cleanup before inter-doc dedup) over the scrubbed text. Chained regexp
    + array-lambda projection, zero shuffles — the exact plan shape a
    100 TB scrub pass wants (runs inside the scan's codegen stage). The
    index-aware filter keeps the FIRST of each run (Spark lambda index is
    0-based, DuckDB's 1-based — the oracle mirrors the same logic).

    r6 adds the CROSS-document leg of the same cleanup family:
    duplicate-SPAN removal (`functions/span_dedup.py`, C4-style — every
    8-word span occurring more than once corpus-wide is cut from all but
    its first occurrence; boilerplate headers injected deterministically
    so the drop path is exercised). The scrub/collapse legs stay
    zero-shuffle; the span leg's wide join moves only (md5, doc_id, pos)
    rows — text shuffles at most once, on the per-doc cut-list join.
    r7 upgrades the leg to `dedup_spans_multi` (grid offsets 0 and 4):
    a second pass over the first pass's cleaned text catches boilerplate
    at a shared shifted offset — exercised by the doc_id%5=1 injection,
    whose unique 4-token lead-ins hide the same banner from the aligned
    grid.

    r8 adds the C4 line-level cleaning rules (`functions/c4.py`, Raffel
    2020 §2.2: terminal-punctuation lines, min-words, javascript/policy
    lines, lorem-ipsum / curly-bracket / min-sentences page drops) on a
    deterministic punctuated-newline synthesis of the corpus — four
    hash-checked cols (`c4_n_lines`/`c4_n_kept`/`c4_keep`/
    `c4_clean_fp`), every rule's drop path residue-keyed so both
    engines exercise it. Zero-shuffle like the other cleaning legs.

    r10 adds the CCNet cross-document LINE-dedup leg
    (`span_dedup.dedup_lines_across_corpus`, Wenzek 2020 §3.1: every
    line occurring more than once corpus-wide is cut from all but its
    first occurrence) over the same newline synthesis — its injected
    lorem-ipsum/policy lines repeat ACROSS docs, so the cut path does
    real cross-doc work. One min-struct aggregation on the 16-byte line
    hash; line text never shuffles (`ld_n_lines`/`ld_lines_cut`/
    `ld_clean_fp`).
    [r3 consolidation: absorbs the former `repetition_collapse`
    query; r6: absorbs `span_dedup`.]"""
    from etl_edi_data_scrapper_spark.functions.c4 import (
        add_c4_badwords,
        add_c4_features,
    )
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
        dedup_spans_multi,
    )
    from etl_edi_data_scrapper_spark.functions.text import pii_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    spanned = dedup_spans_multi(
        docs.select("doc_id", F.expr(_SPAN_INJECT).alias("text")), width=8
    ).select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_spans_dropped").cast("long").alias("n_spans_dropped"),
        F.col("clean_text").alias("span_clean_text"),
    )
    injected = docs.select("doc_id", F.expr(_PII_INJECT).alias("injected"))
    counts = pii_counts(F.col("injected"))
    scrub = injected.select(
        "doc_id",
        scrub_pii(F.col("injected")).alias("clean_text"),
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
    )
    tok = scrub.withColumn("t", F.split("clean_text", " "))
    kept = F.expr("filter(t, (x, i) -> i = 0 OR x != t[i - 1])")
    c4_feed = (
        docs.select("doc_id", "text")
        .withColumn("__t", F.split("text", " "))
        .withColumn("__ln", F.expr(_C4_LINES_SPARK))
        .withColumn("__ln2", F.expr(_C4_MARK_SPARK))
        .select("doc_id", F.expr(_C4_TEXT_SPARK).alias("c4_text"))
    )
    # r10: the CCNet cross-document line-dedup leg, over the same
    # newline synthesis (its injected lorem-ipsum/policy lines repeat
    # ACROSS docs — real cross-doc cuts); fingerprint keeps output narrow
    ld = dedup_lines_across_corpus(c4_feed, text_col="c4_text").select(
        "doc_id",
        F.col("n_lines").alias("ld_n_lines"),
        F.col("n_lines_cut").alias("ld_lines_cut"),
        F.md5("clean_text").alias("ld_clean_fp"),
    )
    c4 = add_c4_badwords(
        add_c4_features(c4_feed, text_col="c4_text"),
        text_col="c4_text",
    ).select(
        "doc_id",
        "c4_n_lines",
        "c4_n_kept",
        "c4_keep",
        F.md5("c4_clean_text").alias("c4_clean_fp"),
        "c4_badword_hits",
        "c4_badwords_keep",
    )
    return (
        tok.select(
            "doc_id",
            "clean_text",
            "n_email",
            "n_ipv4",
            "n_phone",
            F.size("t").cast("long").alias("n_before"),
            F.size(kept).cast("long").alias("n_after"),
            F.array_join(kept, " ").alias("collapsed_text"),
        )
        .join(spanned, "doc_id")
        .join(c4, "doc_id")
        .join(ld, "doc_id")
    )


# ExactSubstr leg synthesis (r9): a 19-token boilerplate banner on
# doc_id%5=0 (long maximal runs) and a fixed 5-token quote appended on
# doc_id%7=2 (the below-any-production-width passage the fixed-width
# sliding pass provably misses — min_len=5 is the variable knob). The
# small-vocabulary corpus itself collides heavily at 5 tokens, so the
# natural-text path is exercised hard, not just the injections.
_XS_QUOTE = "quoted maxim tokens five exactly"
_XS_INJECT = (
    f"CASE WHEN doc_id % 5 = 0 THEN concat('{_SPAN_BOILERPLATE} ', text) "
    f"WHEN doc_id % 7 = 2 THEN concat(text, ' {_XS_QUOTE}') "
    "ELSE text END"
)


def _exact_substr_oracle() -> str:
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        exact_substr_oracle_sql,
    )

    return exact_substr_oracle_sql(
        table="xsrc",
        min_len=5,
        extra_ctes=f"xsrc AS (SELECT doc_id, {_XS_INJECT} AS text FROM documents),\n    ",
    )


@register(
    "tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, idf.df,
             CAST(floor(tf.tf * ln(n.n_docs::DOUBLE / idf.df::DOUBLE) * 1000000)
                  AS BIGINT) AS tfidf_micro
      FROM tf JOIN idf USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             tfidf_micro,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf, df, tfidf_micro, rank FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. Shape: one
    (doc,term) shuffle for TF, a small vocabulary aggregate for DF
    (broadcast back — the vocab is tiny relative to the corpus), corpus
    size rides along as a broadcast scalar (no driver action), then a
    per-doc window. At 100 TB the DF/vocab side stays broadcastable
    (vocabulary grows sub-linearly in corpus size).

    The score is quantized to integer micro-units BEFORE ranking: Java's
    and libm's ``ln`` differ in the last ulp, and ranking on the raw double
    lets a 1-ulp wiggle reorder ties — the quantized score is
    engine-stable."""
    from etl_edi_data_scrapper_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_micro",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
                * F.lit(1000000)
            ).cast("long"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_micro", "rank")
    )


_DECON_PASSAGE = (
    "leakmark alpha beta gamma delta epsilon zeta eta theta iota"
)  # 10 tokens ≥ the scrub width, so the window union covers it entirely
_DECON_INJECT = (
    f"CASE WHEN doc_id = 2 THEN concat('{_DECON_PASSAGE} ', text) "
    "WHEN doc_id >= 5 AND doc_id % 7 = 1 THEN "
    f"concat('q', CAST(doc_id AS STRING), ' {_DECON_PASSAGE} ', text) "
    "ELSE text END"
)


def _sql_bloom_ctes(
    docs_cte: str, bench_cte: str, width: int = 8, m: int = 1 << 16, k: int = 3
) -> str:
    """DuckDB replica of functions/bloom.py's span-level maybe-seen flag:
    the bloom IS the distinct-position relation, membership is k equality
    joins — the identical relational formulation, hash-exact."""
    w1 = _sql_hex_word("md5(win)", 1)
    w2 = _sql_hex_word("md5(win)", 9)
    pcols = ", ".join(
        f"((w1 + {j} * w2) % 4294967296) % {m} AS p{j}" for j in range(1, k + 1)
    )
    stack = ", ".join(f"p{j}" for j in range(1, k + 1))
    joins = " ".join(
        f"LEFT JOIN blp b{j} ON b{j}.pos = d.p{j}" for j in range(1, k + 1)
    )
    allhit = " AND ".join(f"b{j}.pos IS NOT NULL" for j in range(1, k + 1))
    win_sql = (
        f"SELECT {{idc}} array_to_string(list_slice(t, pos + 1, pos + {width}), ' ') AS win "
        f"FROM (SELECT {{idc}} t, unnest(range(0, greatest(len(t) - {width}, 0) + 1)) AS pos "
        f"FROM (SELECT {{idc}} string_split(text, ' ') AS t FROM {{src}}))"
    )
    return f"""blbw AS ({win_sql.format(idc="", src=bench_cte)}),
    blbp AS (
      SELECT {w1} AS w1, {w2} AS w2 FROM blbw WHERE win <> ''),
    blp AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{stack}]) AS pos FROM (SELECT {pcols} FROM blbp))),
    bldw AS ({win_sql.format(idc="doc_id,", src=docs_cte)}),
    bldp AS (
      SELECT doc_id, {w1} AS w1, {w2} AS w2 FROM bldw WHERE win <> ''),
    bldk AS (SELECT doc_id, {pcols} FROM bldp),
    blhit AS (
      SELECT d.doc_id,
             CAST(sum(CASE WHEN {allhit} THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
      FROM bldk d {joins} GROUP BY d.doc_id)"""


def _contamination_oracle(bench_max_id: int = 5, threshold: int = 3) -> str:
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        benchmark_scrub_ctes,
    )

    sh = _SQL_SHINGLES.format(t="string_split(text, ' ')")
    dinject = _DECON_INJECT.replace("AS STRING", "AS VARCHAR")
    return f"""
    WITH shingled AS (SELECT doc_id, {sh} AS shingles FROM documents),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM shingled
      WHERE doc_id < {bench_max_id}),
    -- no DISTINCT: the shingle lists are list_distinct per doc already,
    -- so unnesting yields unique (doc_id, s) pairs by construction
    corp AS (
      SELECT doc_id, unnest(shingles) AS s FROM shingled
      WHERE doc_id >= {bench_max_id}),
    hits AS (
      SELECT corp.doc_id, count(*) AS n_shared
      FROM corp JOIN bench USING (s) GROUP BY corp.doc_id),
    dfeed AS (SELECT doc_id, {dinject} AS text FROM documents
              WHERE doc_id >= {bench_max_id}),
    bfeed AS (SELECT doc_id, {dinject} AS text FROM documents
              WHERE doc_id < {bench_max_id}),
    {benchmark_scrub_ctes("bs", "dfeed", "bfeed", width=8)},
    {_sql_bloom_ctes("dfeed", "bfeed", width=8)}
    SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
           coalesce(h.n_shared, 0) >= {threshold} AS contaminated,
           bs.n_tokens_cut, bs.decon_text,
           coalesce(bl.n_seen, 0) AS n_bloom_spans_seen,
           coalesce(bl.n_seen, 0) > 0 AS bloom_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {bench_max_id}) d
    LEFT JOIN hits h USING (doc_id)
    JOIN bsout bs USING (doc_id)
    LEFT JOIN blhit bl USING (doc_id)
    """


@register("contamination", oracle=_contamination_oracle())
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per corpus doc, how many distinct
    3-gram shingles it shares with the (small) benchmark set. Benchmark
    shingles broadcast; the corpus side is explode → semi-style equi-join →
    per-doc count — the corpus text itself is never shuffled, only matched
    shingle hits. The canonical pre-training hygiene op at 100 TB.

    r7 adds the SURGICAL leg (`span_dedup.scrub_benchmark_spans`): the
    doc-level verdict can only drop whole documents; the scrub columns
    (`n_tokens_cut`, `decon_text`) instead cut exactly the leaked ≥8-token
    passage at any offset — benchmark window hashes broadcast, the
    per-token document pass is map-side, only matched positions shuffle.
    A deterministic leak injection (bench doc 2 + corpus docs
    doc_id%7==1, unique lead-in so the offset shifts) exercises the cut
    path; the verdict columns keep reading the RAW text, so their values
    are unchanged.

    r8 adds the memory-BOUNDED tier (`functions/bloom.py`): the
    benchmark's stride-1 span set as a bloom filter expressed as a
    ≤m-row distinct-position relation, membership = k broadcast joins
    (no UDF, no bit array — hash-oracle-able); `n_bloom_spans_seen` /
    `bloom_contaminated` are the screen a two-tier deploy runs before
    the exact scrub when the benchmark suite outgrows a broadcast of
    its raw hashes.

    r11 slimmed both heavy legs and MEASURED AWAY an in-plan two-tier:
    the bloom probe hashes each span once and carries (id, w1, w2) —
    three longs — through the k joins instead of the raw window string
    (`bloom.bloom_span_contamination`), and the exact 3-gram verdict
    leg stops building per-doc DISTINCT shingle arrays: raw stride-1
    3-grams explode straight into the broadcast bench join and the
    per-doc count de-dups AFTER the match (count distinct of matched =
    count of matched distincts; only matched pairs reach the shuffle).
    An intermediate r11 shape additionally GATED the scrub on
    bloom-flagged docs inside this one plan (localCheckpoint-shared
    probe); measured A/B at factor 100 it LOST at both scales — sf0.1
    base 4.0 s -> ~10 s (the checkpoint serializes the probe ahead of
    every leg and re-pays it per fresh plan) and 100x scaled 158.6 s ->
    247.3 s — so the in-plan query keeps the flat shape, and the
    bloom-then-scrub two-tier lives where stages materialize between
    tiers (`plans/curate.py`, the deploy path, where the probe verdict
    is parquet and never recomputed). The oracle is unchanged because
    every value is."""
    from etl_edi_data_scrapper_spark.functions.bloom import (
        bloom_span_contamination,
    )
    from etl_edi_data_scrapper_spark.functions.dedup import shingles, tokens
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        scrub_benchmark_spans,
    )

    bench_max_id, threshold = 5, 3
    docs = _t(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("doc_id") < bench_max_id)
        .select(F.explode(shingles("text", 3)).alias("s"))
        .distinct()
    )
    t = tokens("text")
    raw_sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(t, i, 3), " "),
    )
    corp = docs.filter(F.col("doc_id") >= bench_max_id).select(
        "doc_id", F.explode(raw_sh).alias("s")
    )
    hits = corp.join(F.broadcast(bench), "s").groupBy("doc_id").agg(
        F.count_distinct(F.col("s")).alias("n_shared")
    )
    base = docs.filter(F.col("doc_id") >= bench_max_id).select("doc_id")
    injected = docs.select("doc_id", F.expr(_DECON_INJECT).alias("text"))
    inj_corp = injected.filter(F.col("doc_id") >= bench_max_id)
    bl = bloom_span_contamination(
        inj_corp,
        injected.filter(F.col("doc_id") < bench_max_id),
        width=8,
    ).select(
        "doc_id",
        F.col("n_spans_maybe_seen").alias("n_bloom_spans_seen"),
        "bloom_contaminated",
    )
    scrub = scrub_benchmark_spans(
        inj_corp,
        injected.filter(F.col("doc_id") < bench_max_id),
        width=8,
    ).select("doc_id", "n_tokens_cut", "decon_text")
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
        .join(scrub, "doc_id")
        .join(bl, "doc_id")
    )


def _clf_ctes(n_buckets: int = 64, n_epochs: int = 3) -> str:
    """DuckDB replica of functions/quality_classifier.py: the integer
    batch perceptron, epochs unrolled as CTEs. Epoch e scores every doc
    with the post-epoch-(e−1) weights (w0 = 0 → every doc starts
    misclassified since y·0 ≤ 0), sums y·tf over misclassified docs per
    bucket, and adds the gradient (lr = 1). ALL integer arithmetic — no
    quantization step, no float hazard; sums CAST to BIGINT (HUGEINT
    discipline, tests/test_oracle_types.py)."""
    tword = _sql_hex_word("md5(tok)", 1)
    parts = [
        f"""
    clab AS (
      SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE -1 END AS y
      FROM documents),
    ctok AS (
      SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
      FROM documents),
    ctf AS (
      SELECT doc_id, ({tword}) % {n_buckets} AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM ctok GROUP BY doc_id, bucket),
    cw1 AS (
      SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
      FROM ctf JOIN clab USING (doc_id) GROUP BY bucket),
    cb1 AS (SELECT CAST(sum(y) AS BIGINT) AS b FROM clab)"""
    ]
    for e in range(2, n_epochs + 1):
        p, q = e - 1, e
        parts.append(
            f"""
    cs{q} AS (
      SELECT c.doc_id,
             CAST(coalesce(sum(c.tf * w.w), 0)
                  + (SELECT b FROM cb{p}) AS BIGINT) AS s
      FROM ctf c LEFT JOIN cw{p} w USING (bucket) GROUP BY c.doc_id),
    cm{q} AS (
      SELECT s.doc_id, l.y FROM cs{q} s JOIN clab l USING (doc_id)
      WHERE l.y * s.s <= 0),
    cg{q} AS (
      SELECT bucket, CAST(sum(c.tf * m.y) AS BIGINT) AS g
      FROM ctf c JOIN cm{q} m USING (doc_id) GROUP BY bucket),
    cw{q} AS (
      SELECT w.bucket, CAST(w.w + coalesce(g.g, 0) AS BIGINT) AS w
      FROM cw{p} w LEFT JOIN cg{q} g USING (bucket)),
    cb{q} AS (
      SELECT CAST((SELECT b FROM cb{p})
                  + coalesce((SELECT CAST(sum(y) AS BIGINT) FROM cm{q}), 0)
             AS BIGINT) AS b)"""
        )
    parts.append(
        f"""
    cscore AS (
      SELECT c.doc_id,
             CAST(coalesce(sum(c.tf * w.w), 0)
                  + (SELECT b FROM cb{n_epochs}) AS BIGINT) AS clf_score
      FROM ctf c LEFT JOIN cw{n_epochs} w USING (bucket) GROUP BY c.doc_id)"""
    )
    return ",".join(parts)


# URL leg synthesis (r9): the corpus has no URLs, so inject messy crawl
# variants deterministically (same literals both engines). Group g =
# doc_id DIV 5; variants 0-3 all canonicalize to the SAME key
# (https://example{g}.com/page/{g}) via www/case/fragment/tracking/
# port/trailing-slash rules, so per group the three higher-id variants
# are URL dups; variant 4 is a distinct co.uk host exercising the PSL
# stub and param sorting. Blocklist hits groups 3 and 7's domains.
def _url_inject(cast: str = "STRING", div: str = "DIV") -> str:
    g = f"CAST(doc_id {div} 5 AS {cast})"
    return (
        f"CASE doc_id % 5 "
        f"WHEN 0 THEN 'https://example' || {g} || '.com/page/' || {g} "
        f"WHEN 1 THEN 'https://WWW.EXAMPLE' || {g} || '.COM/page/' || {g} || '#frag' "
        f"WHEN 2 THEN 'https://example' || {g} || '.com/page/' || {g} "
        f"|| '?utm_source=x&utm_campaign=y' "
        f"WHEN 3 THEN 'https://example' || {g} || '.com:443/page/' || {g} || '/' "
        f"ELSE 'https://shop.example' || {g} || '.co.uk/item/' || {g} "
        f"|| '?b=2&utm_medium=z&a=1' END"
    )


_URL_BLOCKLIST = ("example3.com", "example7.co.uk")


def _sql_canonical_url(u: str) -> str:
    """DuckDB replica of functions/urls.canonicalize_url — identical
    rule order and regexes (module docs there are the spec)."""
    from etl_edi_data_scrapper_spark.functions.urls import TRACKING_PARAMS

    head_re = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"
    nofrag = f"regexp_replace(trim({u}), '#.*$', '')"
    head0 = f"lower(regexp_extract({nofrag}, '{head_re}', 1))"
    head1 = f"regexp_replace({head0}, '://www\\.', '://')"
    head = (
        f"CASE WHEN starts_with({head1}, 'https://') AND ends_with({head1}, ':443') "
        f"THEN regexp_replace({head1}, ':443$', '') "
        f"WHEN starts_with({head1}, 'http://') AND ends_with({head1}, ':80') "
        f"THEN regexp_replace({head1}, ':80$', '') ELSE {head1} END"
    )
    rest = f"regexp_replace({nofrag}, '{head_re}', '')"
    path = f"regexp_replace(regexp_extract({rest}, '^([^?]*)', 1), '/+$', '')"
    query = (
        f"CASE WHEN contains({rest}, '?') "
        f"THEN regexp_replace({rest}, '^[^?]*\\?', '') ELSE '' END"
    )
    tracking = "[" + ", ".join(f"'{t}'" for t in TRACKING_PARAMS) + "]"
    kept = (
        f"list_sort(list_filter(string_split({query}, '&'), p -> p <> '' "
        f"AND NOT (starts_with(string_split(p, '=')[1], 'utm_') "
        f"OR list_contains({tracking}, string_split(p, '=')[1]))))"
    )
    return (
        f"({head} || {path} || CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string({kept}, '&') ELSE '' END)"
    )


def _sql_registered_domain(u: str) -> str:
    from etl_edi_data_scrapper_spark.functions.urls import MULTI_LABEL_TLDS

    host = (
        f"regexp_replace(regexp_replace(lower(regexp_extract(trim({u}), "
        f"'^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1)), '^www\\.', ''), "
        f"':[0-9]+$', '')"
    )
    tlds = "[" + ", ".join(f"'{t}'" for t in MULTI_LABEL_TLDS) + "]"
    return f"""(
      SELECT CASE WHEN len(ls) <= 2 THEN h
                  WHEN list_contains({tlds}, ls[-2] || '.' || ls[-1]) AND len(ls) >= 3
                  THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                  ELSE ls[-2] || '.' || ls[-1] END
      FROM (SELECT {host} AS h, string_split({host}, '.') AS ls)
    )"""


def _curation_oracle(bench_max_id: int = 5, threshold: int = 3) -> str:
    """Keep/drop verdict per document, composing the already-oracled
    signal arithmetic (lang argmax, quality score, fingerprint dup window,
    contamination hit count; r7 adds the integer-perceptron quality
    classifier margin — `_clf_ctes`)."""
    from etl_edi_data_scrapper_spark.functions.text import LANG_STOPWORDS

    scores = ", ".join(
        f"{_sql_lang_score(w)} AS s_{lang}" for lang, w in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    mx = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pick = " ".join(f"WHEN s_{lg} = {mx} THEN '{lg}'" for lg in langs[:-1])
    quality = (
        "0.4 * least(len(t)::DOUBLE / 100.0, 1.0)"
        f" + 0.3 * least((len(list_filter(t, x -> list_contains({_sql_lang_arr()}, x)))::DOUBLE"
        " / len(t)::DOUBLE) * 4, 1.0)"
        " + 0.3 * (len(list_distinct(t))::DOUBLE / len(t)::DOUBLE)"
    )
    sh = _SQL_SHINGLES.format(t="t")
    return f"""
    WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    sc AS (SELECT doc_id, text, t, {scores} FROM tok),
    sig AS (
      SELECT doc_id, t,
             CASE WHEN {mx} = 0 THEN 'und' {pick} ELSE '{langs[-1]}' END AS lang_pred,
             {quality} AS quality,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM sc),
    dupd AS (
      SELECT doc_id, lang_pred, quality, t,
             doc_id > min(doc_id) OVER (PARTITION BY fp) AS is_dup
      FROM sig),
    bench AS (
      SELECT DISTINCT unnest({sh}) AS s FROM tok WHERE doc_id < {bench_max_id}),
    corp AS (
      -- no DISTINCT: {{sh}} is list_distinct per doc already
      SELECT doc_id, unnest({sh}) AS s FROM tok
      WHERE doc_id >= {bench_max_id}),
    hits AS (
      SELECT corp.doc_id, count(*) AS n_shared
      FROM corp JOIN bench USING (s) GROUP BY corp.doc_id),
    urls AS (
      SELECT doc_id, {_url_inject(cast="VARCHAR", div="//")} AS url
      FROM documents),
    udup AS (
      SELECT doc_id,
             {_sql_canonical_url("url")} AS canonical_url,
             doc_id > min(doc_id) OVER (
               PARTITION BY {_sql_canonical_url("url")}) AS is_url_dup,
             {_sql_registered_domain("url")} AS url_domain
      FROM urls),
    {_clf_ctes()},
    domagg AS (
      -- RefinedWeb-style domain triage: integer milli-unit aggregates
      -- (a float mean would be partial-order-dependent across engines)
      SELECT u.url_domain,
             CAST(count(*) AS BIGINT) AS dom_n_docs,
             CAST((sum(CASE WHEN u.is_url_dup THEN 1 ELSE 0 END) * 1000)
                  // count(*) AS BIGINT) AS dom_dup_milli,
             -- divide by the quality-BEARING count (engine parity with
             -- domain_report's url_gate semantics; equal to count(*) on
             -- gate data where quality is never NULL)
             CAST(sum(CAST(floor(d.quality * 1000) AS BIGINT))
                  // count(d.quality) AS BIGINT) AS dom_quality_milli
      FROM udup u JOIN dupd d USING (doc_id)
      GROUP BY u.url_domain)
    SELECT d.doc_id, d.lang_pred, d.quality, d.is_dup,
           (d.doc_id >= {bench_max_id}
            AND coalesce(h.n_shared, 0) >= {threshold}) AS contaminated,
           (d.lang_pred = 'en' AND d.quality >= 0.4 AND NOT d.is_dup
            AND NOT (d.doc_id >= {bench_max_id}
                     AND coalesce(h.n_shared, 0) >= {threshold})) AS keep,
           c.clf_score, c.clf_score > 0 AS clf_keep,
           u.canonical_url, u.is_url_dup, u.url_domain,
           list_contains({_sql_blocklist()}, u.url_domain) AS domain_blocked,
           da.dom_n_docs, da.dom_dup_milli, da.dom_quality_milli,
           da.dom_dup_milli >= 500 AS dom_flagged
    FROM dupd d LEFT JOIN hits h USING (doc_id) JOIN cscore c USING (doc_id)
         JOIN udup u USING (doc_id)
         JOIN domagg da ON da.url_domain = u.url_domain
    """


def _sql_blocklist() -> str:
    return "[" + ", ".join(f"'{d}'" for d in _URL_BLOCKLIST) + "]"


def _sql_lang_arr() -> str:
    from etl_edi_data_scrapper_spark.functions.text import EN_STOPWORDS

    return "[" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@register("curation_pipeline", oracle=_curation_oracle())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation verdict — what a pre-training data
    pipeline actually ships: language gate + quality gate + exact-dup drop
    + benchmark-contamination drop, one keep/drop row per document; r7
    adds the model-based filter production pipelines run alongside the
    heuristics — a fasttext-style linear quality classifier
    (`functions/quality_classifier.py`, integer batch perceptron over
    hashed unigram buckets, weak-labeled source='src0' = reference) whose
    margin and verdict land as `clf_score`/`clf_keep` columns.

    Shape: one narrow projection computes lang/quality/fingerprint in the
    scan's codegen stage; the dup flag is a window over the 16-byte
    fingerprint (one shuffle, never the text); contamination is the
    broadcast shingle semi-join; verdicts are pure boolean algebra. Adding
    a gate = adding a column — the plan depth stays constant. The
    classifier adds the kmeans-style iterative block: model on the
    driver, one bounded-gradient shuffle per epoch, scoring as a literal
    zip_with.

    r9 adds the stage real web pipelines run FIRST — URL curation
    (`functions/urls.py`): canonicalize messy crawl URLs (fragment /
    case / www / default-port / tracking-param / param-order /
    trailing-slash rules, all pure Column regex+array exprs), dedup on
    the canonical key (`is_url_dup`, one window on a short string —
    the cheap pass that runs before any text op at 100 TB), extract the
    registered domain (PSL-stub), and flag blocklisted domains. URLs
    are synthesized deterministically (groups of 5 docs share one
    canonical form through 4 messy variants; a 5th co.uk variant
    exercises the multi-label-TLD stub and param sorting).

    r10 adds the domain-LEVEL triage view (`urls.domain_report`,
    RefinedWeb-style: whole domains are filtered by aggregate signals
    before pages are): per-registered-domain doc count, URL-dup rate
    and mean quality in integer milli units (float means are
    partial-order-dependent across engines/partitionings), and a
    `dom_flagged` verdict joined back per doc from a broadcast-sized
    domain table. The synthesis exercises both paths: every .com
    domain carries exactly 500 milli URL-dups (flagged at >= 500), the
    co.uk singletons carry 0."""
    from etl_edi_data_scrapper_spark.functions.dedup import shingles, tokens
    from etl_edi_data_scrapper_spark.functions.quality_classifier import (
        fit_reference_classifier,
    )
    from etl_edi_data_scrapper_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
    )
    from etl_edi_data_scrapper_spark.functions.urls import (
        domain_report,
        flag_blocked_domains,
        registered_domain,
        url_dedup_verdicts,
        url_host,
    )

    bench_max_id, threshold = 5, 3
    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        "text",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )
    w = W.partitionBy("fp")
    dupd = sig.withColumn("is_dup", F.col("doc_id") > F.min("doc_id").over(w))
    bench = (
        docs.filter(F.col("doc_id") < bench_max_id)
        .select(F.explode(shingles("text", 3)).alias("s"))
        .distinct()
    )
    # raw stride-1 3-grams, no per-doc array_distinct: the broadcast
    # bench join filters map-side, and the per-doc count de-dups AFTER
    # the match (count distinct of matched = count of matched distincts;
    # only matched pairs reach the shuffle). array_distinct on every
    # doc's shingle array was half the exact leg's cost at 30x (r11)
    tks = tokens("text")
    raw_sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tks) - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(tks, i, 3), " "),
    )
    hits = (
        docs.filter(F.col("doc_id") >= bench_max_id)
        .select("doc_id", F.explode(raw_sh).alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("s")).alias("n_shared"))
    )
    out = dupd.join(hits, "doc_id", "left")
    contaminated = (F.col("doc_id") >= bench_max_id) & (
        F.coalesce(F.col("n_shared"), F.lit(0)) >= threshold
    )
    keep = (
        (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.4)
        & ~F.col("is_dup")
        & ~contaminated
    )
    clf = fit_reference_classifier(
        docs, F.col("source") == "src0", n_buckets=64, n_epochs=3
    )
    urls = flag_blocked_domains(
        url_dedup_verdicts(
            docs.select("doc_id", F.expr(_url_inject()).alias("url"))
        ),
        domains=_URL_BLOCKLIST,
    ).select(
        "doc_id",
        "canonical_url",
        "is_url_dup",
        registered_domain(url_host(F.col("url"))).alias("url_domain"),
        "domain_blocked",
    )
    # r10: RefinedWeb-style domain-LEVEL triage — aggregate the per-doc
    # URL-dup and quality signals per registered domain (integer milli
    # units; a float mean is partial-order-dependent) and join the
    # verdict back per doc; the domain table is tiny, so it broadcasts
    dom = domain_report(
        urls.select("doc_id", "url_domain", "is_url_dup").join(
            out.select("doc_id", "quality"), "doc_id"
        ),
        dup_col="is_url_dup",
        quality_col="quality",
    )
    return (
        out.select(
            "doc_id",
            "lang_pred",
            "quality",
            "is_dup",
            contaminated.alias("contaminated"),
            keep.alias("keep"),
        )
        .join(clf, "doc_id")
        .join(urls, "doc_id")
        .join(F.broadcast(dom), "url_domain")
        .select(
            "doc_id", "lang_pred", "quality", "is_dup", "contaminated",
            "keep", "clf_score", "clf_keep", "canonical_url", "is_url_dup",
            "url_domain", "domain_blocked",
            "dom_n_docs", "dom_dup_milli", "dom_quality_milli", "dom_flagged",
        )
    )


def _stratified_oracle() -> str:
    word = _sql_hex_word("md5(CAST(vec_id AS VARCHAR))", 1)
    dword = _sql_hex_word("md5(CAST(doc_id AS VARCHAR))", 1)
    return f"""
    WITH tagged AS (
      SELECT label, vec_id,
             ({word}) % 100 < 20 + (label % 3) * 30 AS sampled
      FROM embeddings),
    assigned AS (
      SELECT doc_id,
             CASE WHEN ({dword}) % 100 < 90 THEN 'train' ELSE 'test' END AS split
      FROM documents)
    SELECT 'strat' AS part, CAST(label AS VARCHAR) AS strat,
           count(*) AS n_pool,
           CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(20 + (label % 3) * 30 AS BIGINT) AS rate_pct,
           min(CASE WHEN sampled THEN vec_id END) AS lo_kept,
           max(CASE WHEN sampled THEN vec_id END) AS hi_kept
    FROM tagged GROUP BY label
    UNION ALL
    SELECT 'split' AS part, split AS strat,
           (SELECT count(*) FROM documents) AS n_pool,
           count(*) AS n_kept,
           CAST(CASE WHEN split = 'train' THEN 90 ELSE 10 END AS BIGINT) AS rate_pct,
           min(doc_id) AS lo_kept,
           max(doc_id) AS hi_kept
    FROM assigned GROUP BY split
    """


@register("stratified_sample", oracle=_stratified_oracle())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling suite (one schema, two legs). `strat` leg:
    per-class downsampling (class rebalancing) — keep a row iff md5(id)
    word mod 100 < the class's rate (20/50/80% derived from the label).
    `split` leg: hash-based 90/10 train/test assignment over documents.
    Both are stable under reruns, repartitioning and corpus growth (a row
    never migrates), unlike df.sample/randomSplit whose selection depends
    on partition layout. Each leg is a narrow projection + one aggregate;
    the corpus total rides along as a broadcast scalar.
    [r3 consolidation: absorbs the former `train_test_split` query.]"""
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word

    emb = _t(spark, sf_dir, "embeddings")
    rate = F.lit(20) + (F.col("label") % 3) * 30
    sampled = hex_word(F.md5(F.col("vec_id").cast("string")), 1) % 100 < rate
    tagged = emb.select("label", "vec_id", sampled.alias("sampled"))
    strat = tagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pool"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_kept"),
        (F.lit(20) + (F.col("label") % 3) * 30).cast("long").alias("rate_pct"),
        F.min(F.when(F.col("sampled"), F.col("vec_id"))).alias("lo_kept"),
        F.max(F.when(F.col("sampled"), F.col("vec_id"))).alias("hi_kept"),
    ).select(
        F.lit("strat").alias("part"),
        F.col("label").cast("string").alias("strat"),
        "n_pool", "n_kept", "rate_pct", "lo_kept", "hi_kept",
    )

    docs = _t(spark, sf_dir, "documents")
    bucket = hex_word(F.md5(F.col("doc_id").cast("string")), 1) % 100
    assigned = docs.select(
        "doc_id",
        F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_pool"))
    split = (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("lo_kept"),
            F.max("doc_id").alias("hi_kept"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.lit("split").alias("part"),
            F.col("split").alias("strat"),
            "n_pool",
            "n_kept",
            F.when(F.col("split") == "train", 90)
            .otherwise(10)
            .cast("long")
            .alias("rate_pct"),
            "lo_kept",
            "hi_kept",
        )
    )
    return strat.unionByName(split)


def _pack_sequences_oracle(
    budget: int = 2048, shards: int = 32, shuffle_shards: int = 64, seed: int = 0
) -> str:
    key = f"md5('{seed}' || ':' || CAST(doc_id AS VARCHAR))"
    # Closed-form replica of the EXACT-BPE leg (functions/bpe.py) under
    # the 3-rule gate vocabulary PACK_GATE_BPE_RANKS: every merge drops
    # the token count by one from the utf-8 byte count, and on a
    # [a-z ]-only corpus (tests/test_bpe.py pins both the corpus
    # alphabet and closed-form-vs-merge-loop equality on the real
    # testdata) the merge counts are literal occurrence counts: 'er'
    # pairs are disjoint (e != r), ' t' pairs are segment-leading and
    # disjoint, and every (er, s) cascade corresponds 1:1 to a literal
    # 'ers' triple.
    bpe_n = (
        "CAST(octet_length(encode(text))"
        " - len(regexp_extract_all(text, 'er'))"
        " - len(regexp_extract_all(text, ' t'))"
        " - len(regexp_extract_all(text, 'ers')) AS BIGINT)"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {bpe_n} AS bpe_n_tokens,
             CAST(doc_id % {shards} AS BIGINT) AS pack_shard
      FROM documents),
    c AS (
      -- CAST back to BIGINT: DuckDB promotes integer window sums to
      -- HUGEINT (int128), which the driver's pandas canonicalization
      -- renders as float64 and hash-mismatches Spark's long.
      SELECT *,
             CAST(sum(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id)
                  - n_tokens AS BIGINT) AS shard_offset,
             CAST(sum(bpe_n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id)
                  - bpe_n_tokens AS BIGINT) AS bpe_shard_offset
      FROM tok),
    k AS (
      SELECT doc_id,
             {key} AS shuffle_key,
             CAST(({_sql_hex_word(key, 1)}) % {shuffle_shards} AS BIGINT) AS shard
      FROM documents),
    s AS (
      SELECT doc_id, shuffle_key, shard,
             CAST(row_number() OVER (PARTITION BY shard
                                     ORDER BY shuffle_key, doc_id)
                  AS BIGINT) AS shard_pos
      FROM k),
    pb AS (
      SELECT *,
             CAST(shard_offset // {budget} AS BIGINT) AS pack_bin,
             CAST(shard_offset % {budget} AS BIGINT) AS offset_in_bin,
             CAST(bpe_shard_offset // {budget} AS BIGINT) AS bpe_pack_bin
      FROM c),
    bins AS (
      SELECT pack_shard, pack_bin,
             -- string_agg, not list(): the driver canonicalizes by a
             -- pandas sort over all output columns and list cells are
             -- unhashable (the r1 keyed_merge array_join convention).
             -- doc_id in the ORDER BY is a deterministic tie-break.
             string_agg(offset_in_bin || ':' || doc_id || ':' || n_tokens,
                        '|' ORDER BY offset_in_bin, doc_id) AS bin_docs,
             CAST(count(*) AS BIGINT) AS bin_n_docs,
             CAST(min(offset_in_bin) AS BIGINT) AS bin_start_tokens,
             (pack_bin > 0 AND min(offset_in_bin) > 0) AS bin_carry_in
      FROM pb GROUP BY pack_shard, pack_bin)
    SELECT p.doc_id, p.n_tokens, p.pack_shard, p.shard_offset, p.pack_bin,
           p.bpe_n_tokens, p.bpe_pack_bin,
           s.shuffle_key, s.shard, s.shard_pos,
           b.bin_docs, b.bin_n_docs, b.bin_start_tokens, b.bin_carry_in
    FROM pb p JOIN s USING (doc_id)
         JOIN bins b ON p.pack_shard = b.pack_shard AND p.pack_bin = b.pack_bin
    """


# The gate's exact-BPE fixture vocabulary (see _pack_sequences_oracle's
# closed form): a real rank table with a cascaded merge ((e,r) before
# (er,s)) and a byte-remapped leading-space merge (Ġ = the GPT-2 space
# codepoint) — small enough that DuckDB can count the merges, real
# enough that the full merge loop, rank ordering, and Ġ-remap all run.
PACK_GATE_BPE_RANKS = {("e", "r"): 0, ("Ġ", "t"): 1, ("er", "s"): 2}


@register("pack_sequences", oracle=_pack_sequences_oracle())
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus assembly, both halves: token-budget sequence packing
    (`functions/packing.py`: fixed-size training windows packed within
    hash shards — one narrow projection + one per-shard running-sum
    window, `shards`-way parallel, no global sort; a single global greedy
    pack is a sequential scan and a 100 TB scale-killer) joined with the
    deterministic shard shuffle (`functions/shuffle.py::shuffle_to_shards`:
    seeded-md5 hash-shard + per-shard local sort — the scale-out
    `ORDER BY rand()` replacement; a new seed is a new epoch permutation).
    Both halves deterministic and repartition-stable; bin ids and shard
    positions are integer arithmetic, zero float boundary jitter.
    [r5 consolidation: absorbs `shuffle_shards` to fit the driver's
    50-query correctness cap — both legs' values stay hash-checked.]

    r9 completes the third half: training-WINDOW assembly
    (`packing.materialize_packed_bins` — one row per (shard, bin) = one
    fixed-length window with its ORDERED docs and a carry-in flag for
    bins opening mid-straddling-document; one groupBy on the
    assignment's own keys), joined back per-doc on (pack_shard,
    pack_bin) so the grain stays per-document and the 50-query cap
    holds. Bin docs ride as ONE '|'-joined offset:id:tokens string per
    bin (the gate's pandas canonicalization cannot sort array cells —
    containers always serialize for the driver); the operator itself
    returns typed structs.

    r10 absorbs the exact-BPE packing leg: a second
    `pack_by_token_budget(tokenizer=PACK_GATE_BPE_RANKS)` pass runs the
    REAL Arrow-batched merge loop (functions/bpe.py) and contributes
    `bpe_n_tokens` + the BPE-denominated `bpe_pack_bin`, hash-checked
    against the oracle's closed-form merge count — the optional
    trainer-visible-token path through the same gate discipline as the
    default whitespace path."""
    from etl_edi_data_scrapper_spark.functions.packing import (
        materialize_packed_bins,
        pack_by_token_budget,
    )
    from etl_edi_data_scrapper_spark.functions.shuffle import shuffle_to_shards

    docs = _t(spark, sf_dir, "documents")
    pack = pack_by_token_budget(docs)
    bpe_pack = pack_by_token_budget(docs, tokenizer=PACK_GATE_BPE_RANKS).select(
        "doc_id",
        F.col("n_tokens").alias("bpe_n_tokens"),
        F.col("pack_bin").alias("bpe_pack_bin"),
    )
    shuf = shuffle_to_shards(docs, shards=64, seed=0)
    # array_join, not a raw array: the driver canonicalizes output by a
    # pandas sort over all columns, and list cells are unhashable — every
    # container column must serialize to a string for the gate (the r1
    # keyed_merge addArray convention). sort_array in the operator orders
    # structs by (offset_in_bin, doc_id, ...) — same as the oracle's
    # string_agg ORDER BY offset_in_bin, doc_id.
    doc_strs = F.array_join(
        F.transform(
            F.col("docs"),
            lambda d: F.concat_ws(
                ":",
                d["offset_in_bin"].cast("string"),
                d["doc_id"].cast("string"),
                d["n_tokens"].cast("string"),
            ),
        ),
        "|",
    )
    # reuse the query's own assignment frame: the per-shard running-sum
    # window computes once (ReusedExchange), not once per consumer
    bins = materialize_packed_bins(docs, assignments=pack).select(
        "pack_shard",
        "pack_bin",
        doc_strs.alias("bin_docs"),
        F.col("n_docs").alias("bin_n_docs"),
        F.col("bin_start_tokens"),
        F.col("carry_in").alias("bin_carry_in"),
    )
    return (
        pack.join(shuf, "doc_id")
        .join(bins, ["pack_shard", "pack_bin"])
        .join(bpe_pack, "doc_id")
        .select(
            "doc_id", "n_tokens", "pack_shard", "shard_offset", "pack_bin",
            "bpe_n_tokens", "bpe_pack_bin",
            "shuffle_key", "shard", "shard_pos",
            "bin_docs", "bin_n_docs", "bin_start_tokens", "bin_carry_in",
        )
    )




def _dsir_by_lang_ctes(
    target_lang: str = "fr", n_keep: int = 200, n_buckets: int = 256
) -> str:
    """DuckDB replica of functions/importance.py (DSIR importance
    resampling), aggregated per lang. Mirrors the module step-for-step:
    unigram+bigram feature hashing (md5 word mod B), per-corpus add-1
    smoothed bucket log-probs pre-quantized to integer micro-nats,
    count-weighted per-doc ratio sums, deterministic md5-Gumbel perturbed
    top-k (rank window here; the engine uses orderBy().limit() — same
    deterministic (key desc, id asc) order). All sums CAST to BIGINT
    (HUGEINT discipline, tests/test_oracle_types.py)."""
    gword = _sql_hex_word("md5(gram)", 1)
    uword = _sql_hex_word("md5('0:' || CAST(doc_id AS VARCHAR))", 1)
    denom = f"(t + {n_buckets})::DOUBLE"  # smoothing s=1: t + s*B
    return f"""
    dtoks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    dgrams AS (
      SELECT doc_id, lang,
             unnest(list_concat(toks,
               CASE WHEN len(toks) >= 2
                 THEN list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])
                 ELSE [] END)) AS gram
      FROM dtoks),
    dbuck AS (
      SELECT doc_id, lang, ({gword}) % {n_buckets} AS bucket FROM dgrams),
    src_tf AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
      FROM dbuck GROUP BY doc_id, bucket),
    tgt_tf AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
      FROM dbuck WHERE lang = '{target_lang}' GROUP BY doc_id, bucket),
    src_b AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS c FROM src_tf GROUP BY bucket),
    tgt_b AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS c FROM tgt_tf GROUP BY bucket),
    src_t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM src_b),
    tgt_t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tgt_b),
    lp_s AS (
      SELECT bucket,
             CAST(floor(ln((c + 1)::DOUBLE / {denom}) * 1000000) AS BIGINT) AS lp
      FROM src_b, src_t),
    lp_t AS (
      SELECT bucket,
             CAST(floor(ln((c + 1)::DOUBLE / {denom}) * 1000000) AS BIGINT) AS lp
      FROM tgt_b, tgt_t),
    dratio AS (
      SELECT coalesce(lp_t.bucket, lp_s.bucket) AS bucket,
             coalesce(lp_t.lp,
               (SELECT CAST(floor(ln(1.0 / {denom}) * 1000000) AS BIGINT) FROM tgt_t))
             - coalesce(lp_s.lp,
               (SELECT CAST(floor(ln(1.0 / {denom}) * 1000000) AS BIGINT) FROM src_t))
               AS ratio_micro
      FROM lp_t FULL OUTER JOIN lp_s ON lp_t.bucket = lp_s.bucket),
    dlogw AS (
      SELECT s.doc_id,
             CAST(sum(s.tf * r.ratio_micro) AS BIGINT) AS logw_sum_micro
      FROM src_tf s JOIN dratio r USING (bucket) GROUP BY s.doc_id),
    dkey AS (
      SELECT doc_id, logw_sum_micro,
             logw_sum_micro
             + CAST(floor(-ln(-ln((({uword})::DOUBLE + 0.5) / 4294967296.0))
                          * 1000000) AS BIGINT) AS key_micro
      FROM dlogw),
    dranked AS (
      SELECT doc_id, logw_sum_micro,
             row_number() OVER (ORDER BY key_micro DESC, doc_id ASC) AS rk
      FROM dkey),
    dsir AS (
      SELECT d.lang,
             CAST(count(*) AS BIGINT) AS dsir_kept,
             CAST(sum(r.logw_sum_micro) AS BIGINT) AS dsir_logw_micro
      FROM dranked r JOIN documents d USING (doc_id)
      WHERE rk <= {n_keep} GROUP BY d.lang)
    """


def _domain_mixture_oracle(budget: int = 200) -> str:
    dword = _sql_hex_word("md5(CAST(doc_id AS VARCHAR))", 1)
    return f"""
    WITH {_dsir_by_lang_ctes()},
    counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    cq AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS sqrt_micro
      FROM counts),
    z AS (SELECT CAST(sum(sqrt_micro) AS BIGINT) AS z_micro FROM cq),
    rates AS (
      SELECT lang, n_docs,
             sqrt_micro::DOUBLE / z_micro::DOUBLE AS weight,
             least(CAST(100 AS BIGINT),
                   CAST((({budget} * 100 * sqrt_micro) // z_micro) // n_docs
                        AS BIGINT)) AS rate_pct
      FROM cq, z),
    kept AS (
      SELECT d.lang,
             CAST(count(*) AS BIGINT) AS n_kept,
             min(d.doc_id) AS lo_kept,
             max(d.doc_id) AS hi_kept
      FROM documents d JOIN rates r USING (lang)
      WHERE ({dword}) % 100 < r.rate_pct
      GROUP BY d.lang)
    SELECT r.lang, r.n_docs, r.weight, r.rate_pct,
           coalesce(k.n_kept, 0) AS n_kept, k.lo_kept, k.hi_kept,
           coalesce(ds.dsir_kept, 0) AS dsir_kept,
           coalesce(ds.dsir_logw_micro, 0) AS dsir_logw_micro
    FROM rates r LEFT JOIN kept k USING (lang) LEFT JOIN dsir ds USING (lang)
    """


@register("domain_mixture", oracle=_domain_mixture_oracle())
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted domain mixture (the data-mixing step of LLM
    training — here over the skewed `lang` column: upweight low-resource
    languages, downweight the dominant one): per-language
    weight ∝ sqrt(n_docs) (temperature α = 0.5), target sampling rate =
    budget·weight/n_docs capped at 100 %, membership by the same
    deterministic md5 selection as `stratified_sample`
    (rerun/repartition/growth-stable). Engine parity: sqrt is quantized to
    micro-units BEFORE the normalizer sum (sqrt itself is IEEE-exact on
    both engines, but a float SUM is order-dependent — Spark's parallel
    partial order vs DuckDB's sequential fold differ in the last ulp), so
    z is an exact long sum and weight/rate are a deterministic long
    division — bit-stable on both engines and across partitionings. Plan:
    one groupBy(source) over the corpus, a 1-row broadcast normalizer, a
    broadcast rate join back, one filtered re-aggregation — two linear
    passes, no shuffle wider than the source dimension.

    [r7: absorbs a DSIR importance-resampling leg
    (`functions/importance.py`, Xie et al. 2023) — the other half of the
    same corpus-selection family: where the mixture leg reweights domains
    by a sqrt-temperature rule, the DSIR leg selects individual documents
    that LOOK LIKE a target corpus (here lang='fr') via hashed-ngram
    importance weights + deterministic md5-Gumbel top-k (n_keep=200,
    B=256 buckets). Per-bucket log-ratios and the Gumbel noise are
    pre-quantized to integer micro-nats, so every aggregated column is an
    exact BIGINT sum; the one residual float risk is the documented
    last-ulp `ln` boundary shared with `unigram_cross_entropy`. Plan
    shape: explode → one (doc,bucket) shuffle per corpus, broadcast ratio
    table (≤B rows), TakeOrderedAndProject top-k, broadcast keep-set join
    — no global sort, no window.]"""
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word
    from etl_edi_data_scrapper_spark.functions.importance import dsir_resample

    budget = 200
    docs = _t(spark, sf_dir, "documents")
    # r15 (guide §2.6 job overlap): the DSIR leg's fit pipeline ends in
    # its own lazy checkpoint (importance.py `weighted`) that is
    # INDEPENDENT of the cq/rates chain below, yet under AQE each
    # localCheckpoint(eager=False) materializes its upstream stages at
    # BUILD time — built sequentially, three independent pipelines
    # serialize (r14 finding). Submitting the DSIR construction from a
    # driver thread lets its checkpoint jobs back-fill the executor
    # slots the cq/rates barriers leave idle. Pure submission-order
    # change: same frames, same values, no caching across invocations.
    # The thread inherits the caller's local properties (job group and
    # description) and job tags, so its jobs are attributed and
    # cancellable with the caller's, and the pool is shut down on every exit path — a failing
    # cq/rates leg must not leave the DSIR thread running.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        dsir_fut = pool.submit(
            inheritable_thread_target(spark)(dsir_resample),
            docs.select("doc_id", "text"),
            docs.filter(F.col("lang") == "fr").select("doc_id", "text"),
            n_keep=200,
            n_buckets=256,
            seed=0,
        )
        counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
        cq = counts.withColumn(
            "sqrt_micro", F.floor(F.sqrt("n_docs") * 1000000).cast("long")
        )
        # cq (one row per language) feeds the normalizer aggregate AND the
        # rate table, and rates itself lands in two joins below — without
        # checkpoints the corpus groupBy re-executes once per reference
        # (r14 before-plan: 40 parquet scans of `documents`, 110 Exchanges
        # in one 1,566-line plan). Two lazy checkpoints of dimension-sized
        # frames collapse that to one scan per distinct pass.
        cq = cq.localCheckpoint(eager=False)
        z = cq.agg(F.sum("sqrt_micro").cast("long").alias("z_micro"))
        rates = (
            cq.crossJoin(F.broadcast(z))
            .withColumn(
                "weight", F.col("sqrt_micro").cast("double") / F.col("z_micro").cast("double")
            )
            .withColumn(
                "rate_pct",
                # two-step integer division (floor(floor(a/b)/c) == floor(a/(b·c))
                # for positive longs): z_micro * n_docs as a single product
                # overflows BIGINT around n_docs ≈ 4e8 — silently under Spark's
                # non-ANSI wraparound, loudly in DuckDB, diverging either way
                F.least(
                    F.lit(100).cast("long"),
                    F.expr(f"(({budget} * 100 * sqrt_micro) DIV z_micro) DIV n_docs"),
                ),
            )
        ).localCheckpoint(eager=False)  # reused by the kept filter AND the final join
        kept = (
            docs.join(F.broadcast(rates.select("lang", "rate_pct")), "lang")
            .filter(hex_word(F.md5(F.col("doc_id").cast("string")), 1) % 100 < F.col("rate_pct"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.min("doc_id").alias("lo_kept"),
                F.max("doc_id").alias("hi_kept"),
            )
        )
        dsir = dsir_fut.result()
    finally:
        pool.shutdown(cancel_futures=True)
    dsir_by_lang = (
        dsir.filter("dsir_keep")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("dsir_kept"),
            F.sum("logw_sum_micro").cast("long").alias("dsir_logw_micro"),
        )
    )
    # r15: kept and dsir_by_lang are dimension-grain BY CONSTRUCTION
    # (groupBy(lang) → ≤ #languages rows); without hints the planner
    # reads their post-aggregate estimates as corpus-sized and plans two
    # SortMergeJoins against the 5-row rates frame (checkpointed →
    # unknown stats, so no auto-broadcast). Hints make both joins
    # BroadcastHashJoin at ANY scale — guide §3.1.
    return (
        rates.join(F.broadcast(kept), "lang", "left")
        .join(F.broadcast(dsir_by_lang), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "weight",
            "rate_pct",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            "lo_kept",
            "hi_kept",
            F.coalesce("dsir_kept", F.lit(0).cast("long")).alias("dsir_kept"),
            F.coalesce("dsir_logw_micro", F.lit(0).cast("long")).alias("dsir_logw_micro"),
        )
    )


def _chunk_documents_oracle(width: int = 16, stride: int = 12) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    g AS (
      SELECT doc_id, toks,
             unnest(range(CAST(0 AS BIGINT), n_tokens, CAST({stride} AS BIGINT)))
               AS start_tok
      FROM t),
    s AS (
      SELECT doc_id, toks, CAST(start_tok AS BIGINT) AS start_tok,
             CAST(start_tok // {stride} AS BIGINT) AS chunk_idx
      FROM g)
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len(list_slice(toks, start_tok + 1, start_tok + {width}))
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
               list_slice(toks, start_tok + 1, start_tok + {width}), ' '))
             AS chunk_hash
    FROM s
    """


@register("chunk_documents", oracle=_chunk_documents_oracle())
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (`functions/chunking.py`): the
    RAG-indexing / long-document-slicing step. width=16, stride=12 → 4-token
    overlap. Plan: ZERO shuffles — one projection + one bounded generate
    (explode factor ≤ ceil(n_tokens/stride)), all JVM built-ins; chunk
    identity derives from data so the output is repartition-stable, and
    ``chunk_hash`` (md5 of the chunk text) is the cache/dedup key
    downstream embedding stages join on."""
    from etl_edi_data_scrapper_spark.functions.chunking import chunk_by_words

    return chunk_by_words(_t(spark, sf_dir, "documents"), width=16, stride=12)


def q_keyed_merge_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof two-stage merge through the oracle gate: byte-identical
    results to `keyed_merge` (same oracle SQL) via (key, salt) partial
    aggregation — proof the hot-key path preserves exact semantics."""
    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_salted

    feed = _dirty_feed(spark, sf_dir).withColumnRenamed("seq", SEQ_COL)
    mapped, merge_rules = map_columns(
        feed,
        {
            "upc": "UPC",
            "asin": "ASIN",
            "qty": ["Quantity", "min"],
            "price": ["Wholesale", "max"],
            "status": ["Sublocation", "addArray"],
        },
        supplier_id=102,
        version=1,
        keep=[SEQ_COL],
    )
    merged = keyed_merge_salted(mapped, "upc", merge_rules, salt_buckets=8)
    return merged.withColumn("status", F.array_join("status", "|"))


QUERIES["keyed_merge_salted"] = q_keyed_merge_salted
# byte-identical semantics → the SAME oracle as keyed_merge
ORACLES["keyed_merge_salted"] = ORACLES["keyed_merge"]


@register(
    "cogroup_stats",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0),
    l AS (
      SELECT l_orderkey AS orderkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             max(l_extendedprice) AS max_line_price
      FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY 1)
    SELECT coalesce(o.orderkey, l.orderkey) AS orderkey,
           o.o_totalprice AS o_totalprice,
           coalesce(l.n_lines, 0) AS n_lines,
           l.max_line_price AS max_line_price
    FROM o FULL OUTER JOIN l ON o.orderkey = l.orderkey
    """,
)
def q_cogroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map through the gate: two-stream per-key reconciliation
    (order header vs its lines) via `cogroup_apply_batched` — the same
    `FlatMapCoGroupsInPandas` physical operator as per-key cogroup, but
    keys are hash-bucketed so each Arrow flush + Python call serves a whole
    bucket of keys and the reconcile vectorizes across them with pandas
    groupby/merge (the per-key form paid that fixed cost per key — 15x
    slower at 1 500 groups, the scale-killer at 10⁹ keys). Both sides
    co-partition on the bucket (one shuffle each), full-outer key semantics
    (one-sided keys arrive in one side's frame). The key subset filter is
    pushed into both scans. The oracle is the equivalent full-outer join +
    aggregate — proving the custom-logic path preserves relational
    semantics exactly."""
    from etl_edi_data_scrapper_spark.operators.cogrouped import cogroup_apply_batched

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(F.col("o_orderkey").alias("orderkey"), "o_totalprice")
    )
    lines = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(F.col("l_orderkey").alias("orderkey"), "l_extendedprice")
    )

    def reconcile(lpdf, rpdf):
        import pandas as pd

        o = pd.DataFrame(
            {
                "orderkey": lpdf["orderkey"],
                "o_totalprice": lpdf["o_totalprice"].astype(float),
            }
        )
        if len(rpdf):
            ln = rpdf.groupby("orderkey", as_index=False).agg(
                n_lines=("l_extendedprice", "size"),
                max_line_price=("l_extendedprice", "max"),
            )
            ln["max_line_price"] = ln["max_line_price"].astype(float)
        else:
            ln = pd.DataFrame(
                {
                    "orderkey": pd.Series(dtype="int64"),
                    "n_lines": pd.Series(dtype="int64"),
                    "max_line_price": pd.Series(dtype="float64"),
                }
            )
        m = o.merge(ln, on="orderkey", how="outer")
        m["n_lines"] = m["n_lines"].fillna(0).astype("int64")
        # NaN → None so Arrow emits SQL NULLs (hash parity with the oracle)
        for c in ("o_totalprice", "max_line_price"):
            m[c] = m[c].astype(object).where(pd.notna(m[c]), None)
        return m[["orderkey", "o_totalprice", "n_lines", "max_line_price"]]

    return cogroup_apply_batched(
        orders,
        lines,
        ["orderkey"],
        reconcile,
        "orderkey long, o_totalprice double, n_lines long, max_line_price double",
    )


_QUALITY_HIST_ORACLE = f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    q AS (
      SELECT doc_id,
        0.4 * least(len(t)::DOUBLE / 100.0, 1.0)
          + 0.3 * least((len(list_filter(t, x -> list_contains({{arr}}, x)))::DOUBLE
                         / len(t)::DOUBLE) * 4, 1.0)
          + 0.3 * (len(list_distinct(t))::DOUBLE / len(t)::DOUBLE) AS quality
      FROM tok)
    SELECT CAST(least(floor(quality * 10), 9) AS BIGINT) AS bucket,
           count(*) AS n, min(quality) AS min_q, max(quality) AS max_q
    FROM q GROUP BY 1
    """.replace("{arr}", "PLACEHOLDER")


def q_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality distribution: decile histogram of the composite
    quality score — the aggregate view a curation run reports. One narrow
    scoring projection + one 10-group aggregate (map-side partials)."""
    from etl_edi_data_scrapper_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(quality_score("text").alias("quality"))
    bucket = F.least(F.floor(F.col("quality") * 10), F.lit(9)).cast("long")
    return q.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
    )


_QUALITY_HIST_ORACLE = _QUALITY_HIST_ORACLE.replace("PLACEHOLDER", _sql_lang_arr())

_COHORT_ORACLE = """
    WITH firstday AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day,
           datediff('day', f.cohort_day, a.day) AS day_offset,
           count(*) AS active_users
    FROM activity a JOIN firstday f USING (user_id)
    WHERE datediff('day', f.cohort_day, a.day) <= 7
    GROUP BY 1, 2
    """


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users grouped by first-active day, counted on
    each subsequent day (offsets 0-7). Both legs shuffle once on user_id
    (co-partitioned join, no broadcast needed at any scale), then one
    (cohort, offset) aggregate with map-side partials."""
    ev = _events(spark, sf_dir)
    firstday = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    j = activity.join(firstday, "user_id")
    offset = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        j.filter(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


_FUNNEL_ORACLE = """
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN v ON v.user_id = e.user_id AND epoch_us(e.ts) > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN c ON c.user_id = e.user_id AND epoch_us(e.ts) > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT '1_view' AS stage, count(*) AS users FROM v
    UNION ALL SELECT '2_click', count(*) FROM c
    UNION ALL SELECT '3_purchase', count(*) FROM p
    """


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER the first view,
    then purchased AFTER that click. Each stage is one aggregate + a
    co-partitioned user join (the user key carries through all stages — on
    a cluster the three joins reuse one partitioning). Timestamps compare
    at microseconds on both engines."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def first_after(etype: str, prev: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            e = e.join(prev.select("user_id", "t"), "user_id").filter(
                F.col("us") > F.col("t")
            )
        return e.groupBy("user_id").agg(F.min("us").alias("t"))

    v = first_after("view", None)
    c = first_after("click", v)
    p = first_after("purchase", c)
    legs = [("1_view", v), ("2_click", c), ("3_purchase", p)]
    outs = [
        s.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(name).alias("stage"), "users"
        )
        for name, s in legs
    ]
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


@register(
    "analytics_rollups",
    oracle=f"""
    SELECT 'funnel' AS leg, stage AS k1, CAST(NULL AS VARCHAR) AS k2,
           CAST(users AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM ({_FUNNEL_ORACLE}) t
    UNION ALL
    SELECT 'cohort' AS leg, CAST(cohort_day AS VARCHAR) AS k1,
           CAST(day_offset AS VARCHAR) AS k2, CAST(active_users AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM ({_COHORT_ORACLE}) t
    UNION ALL
    SELECT 'quality_hist' AS leg, CAST(bucket AS VARCHAR) AS k1,
           CAST(NULL AS VARCHAR) AS k2, CAST(n AS BIGINT) AS n,
           min_q AS v1, max_q AS v2
    FROM ({_QUALITY_HIST_ORACLE}) t
    UNION ALL
    SELECT 'daily_rollup' AS leg, CAST(CAST(ts AS DATE) AS VARCHAR) AS k1,
           event_type AS k2, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS v1,
           CAST(NULL AS DOUBLE) AS v2
    FROM events GROUP BY CAST(ts AS DATE), event_type
    """,
)
def q_analytics_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting rollups, three legs tagged by ``leg`` on a harmonized
    (k1, k2, n, v1, v2) schema: 'funnel' = ordered view→click→purchase
    user funnel (each stage one aggregate + a co-partitioned user join —
    the user key carries through all stages, so on a cluster the three
    joins reuse one partitioning); 'cohort' = retention triangle (users by
    first-active day × day offset 0-7; both legs shuffle once on user_id,
    then one map-side-partial aggregate); 'quality_hist' = decile
    histogram of the corpus quality score (narrow scoring projection + a
    10-group aggregate); 'daily_rollup' = the CONTINUOUS AGGREGATE path
    (`operators/rollup.py::merge_daily_rollup` — hypertable-rollup
    pattern: per-day partials merged incrementally with dynamic partition
    overwrite, O(batch + touched days) per refresh, DECIMAL partials so
    merge boundaries never drift): the query runs TWO real incremental
    merges (events split by even/odd event_id) into a scratch table and
    the oracle is the from-scratch recompute -- incremental == full,
    hash-checked. [r5 consolidation: merges the former `funnel`,
    `cohort_retention` and `quality_histogram` queries to fit the
    driver's 50-query correctness cap — every leg's values stay
    hash-checked on the shared schema (dates/offsets as ISO strings,
    identical casts on both engines).]"""
    import shutil
    import tempfile

    from etl_edi_data_scrapper_spark.operators.rollup import merge_daily_rollup

    fun = q_funnel(spark, sf_dir)
    coh = q_cohort_retention(spark, sf_dir)
    hist = q_quality_histogram(spark, sf_dir)

    ev = _events(spark, sf_dir)
    rollup_root = tempfile.mkdtemp(prefix="etl_rollupq_")
    rollup_dir = rollup_root + "/rollup"
    merge_daily_rollup(spark, rollup_dir, ev.filter(F.col("event_id") % 2 == 0))
    merge_daily_rollup(spark, rollup_dir, ev.filter(F.col("event_id") % 2 == 1))
    roll = (
        spark.read.parquet(rollup_dir)
        .select(
            F.lit("daily_rollup").alias("leg"),
            F.col("day").cast("string").alias("k1"),
            F.col("event_type").alias("k2"),
            F.col("n").cast("long").alias("n"),
            F.col("total").cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )
        # eager copy: the scratch table is deleted right below, so the
        # returned plan must not re-scan it when the driver collects
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(rollup_root, ignore_errors=True)  # root, not just the subdir

    def _nulls() -> tuple:
        return (
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )

    f = fun.select(
        F.lit("funnel").alias("leg"),
        F.col("stage").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("users").cast("long").alias("n"),
        *_nulls(),
    )
    c = coh.select(
        F.lit("cohort").alias("leg"),
        F.col("cohort_day").cast("string").alias("k1"),
        F.col("day_offset").cast("string").alias("k2"),
        F.col("active_users").cast("long").alias("n"),
        *_nulls(),
    )
    h = hist.select(
        F.lit("quality_hist").alias("leg"),
        F.col("bucket").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n").cast("long").alias("n"),
        F.col("min_q").alias("v1"),
        F.col("max_q").alias("v2"),
    )
    return f.unionByName(c).unionByName(h).unionByName(roll)


def _simhash_sig_ctes(bits: int = 32) -> str:
    """CTE chain ending in sig(doc_id, simhash) — shared by the signature
    oracle (`simhash`) and the blocked-pairs oracle (`simhash_pairs`)."""
    terms = []
    for i in range(bits):
        pos, div = i // 4 + 1, 2 ** (3 - i % 4)
        bit = (
            f"CAST(floor((instr('0123456789abcdef', substring(h, {pos}, 1)) - 1)"
            f" / {div}) AS INT) % 2"
        )
        terms.append(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS b{i}")
    sums = ", ".join(terms)
    recomb = " + ".join(f"CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END" for i in range(bits))
    return f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hashed AS (SELECT doc_id, md5(t) AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({recomb} AS BIGINT) AS simhash FROM sums)
    """


def _simhash_pairs_oracle(
    bits: int = 32,
    max_hamming: int = 8,
    n_pieces: int | None = None,
    max_block: int | None = None,
) -> str:
    # Replicates the engine's multi-piece blocking (dedup.simhash_pairs_multi):
    # piece value = floor(sig / 2^(p*width)) % 2^piece_width — double division
    # of a non-negative value by a power of two is exact, floor == truncate.
    # ``max_block`` replicates _block_pairs' deterministic truncation guard:
    # each (piece, block) keeps only its max_block smallest doc ids (the
    # engine sorts the struct array — doc_id leads — and slices), so the
    # rank window below IS the engine's slice, bit-for-bit.
    if n_pieces is None:
        n_pieces = max_hamming + 1
    width = bits // n_pieces
    pieced_core = f"""
      SELECT doc_id, simhash, g.p AS p,
             CAST(floor(simhash / power(2.0, g.p * {width})) AS BIGINT)
               % CAST(power(2.0, CASE WHEN g.p < {n_pieces - 1}
                                      THEN {width}
                                      ELSE {bits - width * (n_pieces - 1)} END)
                      AS BIGINT) AS blk
      FROM sig CROSS JOIN generate_series(0, {n_pieces - 1}) AS g(p)"""
    if max_block is None:
        pieced = f"pieced AS ({pieced_core})"
    else:
        pieced = f"""pieced0 AS ({pieced_core}),
    pieced AS (
      SELECT doc_id, simhash, p, blk FROM (
        SELECT doc_id, simhash, p, blk,
               row_number() OVER (PARTITION BY p, blk ORDER BY doc_id) AS rk
        FROM pieced0)
      WHERE rk <= {max_block})"""
    return f"""
    WITH {_simhash_sig_ctes(bits)},
    {pieced}
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
    FROM pieced x JOIN pieced y
      ON x.p = y.p AND x.blk = y.blk AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
    """


def _simhash64_sig_ctes() -> str:
    """CTE chain ending in sig(doc_id, simhash_hi, simhash_lo) — the 64-bit
    signature as two 32-bit halves, mirroring
    dedup.simhash_combined_from_sums (each half < 2^32 keeps
    floor/division piece arithmetic exact in doubles)."""
    terms = []
    for i in range(64):
        pos, div = i // 4 + 1, 2 ** (3 - i % 4)
        bit = (
            f"CAST(floor((instr('0123456789abcdef', substring(h, {pos}, 1)) - 1)"
            f" / {div}) AS INT) % 2"
        )
        terms.append(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS b{i}")
    sums = ", ".join(terms)
    hi = " + ".join(f"CASE WHEN b{32 + j} > 0 THEN {2**j} ELSE 0 END" for j in range(32))
    lo = " + ".join(f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(32))
    return f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hashed AS (SELECT doc_id, md5(t) AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({hi} AS BIGINT) AS simhash_hi,
                   CAST({lo} AS BIGINT) AS simhash_lo FROM sums)
    """


def _simhash64_pairs_oracle(max_hamming: int = 3, max_block: int | None = None) -> str:
    # Replicates the 64-bit leg of dedup.simhash_pairs_multi: 4 pieces × 16
    # bits, pieces 0-1 from the low half, 2-3 from the high half; hamming = sum of the two
    # halves' xor popcounts. ``max_block`` replicates the deterministic
    # per-(piece, block) smallest-ids truncation, as in _simhash_pairs_oracle.
    pieced_core = """
      SELECT doc_id, simhash_hi, simhash_lo, g.p AS p,
             CAST(floor((CASE WHEN g.p < 2 THEN simhash_lo ELSE simhash_hi END)
                        / power(2.0, (g.p % 2) * 16)) AS BIGINT) % 65536 AS blk
      FROM sig CROSS JOIN generate_series(0, 3) AS g(p)"""
    if max_block is None:
        pieced = f"pieced AS ({pieced_core})"
    else:
        pieced = f"""pieced0 AS ({pieced_core}),
    pieced AS (
      SELECT doc_id, simhash_hi, simhash_lo, p, blk FROM (
        SELECT doc_id, simhash_hi, simhash_lo, p, blk,
               row_number() OVER (PARTITION BY p, blk ORDER BY doc_id) AS rk
        FROM pieced0)
      WHERE rk <= {max_block})"""
    return f"""
    WITH {_simhash64_sig_ctes()},
    {pieced}
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.simhash_hi, y.simhash_hi))
              + bit_count(xor(x.simhash_lo, y.simhash_lo)) AS INT) AS hamming
    FROM pieced x JOIN pieced y
      ON x.p = y.p AND x.blk = y.blk AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash_hi, y.simhash_hi))
        + bit_count(xor(x.simhash_lo, y.simhash_lo)) <= {max_hamming}
    """


def _text_fingerprints_oracle() -> str:
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        span_dedup_sliding_oracle_sql,
    )

    return f"""
    WITH {_simhash_sig_ctes(32)},
    fp AS ({_text_fingerprints_select()}),
    exsub AS (SELECT * FROM ({span_dedup_sliding_oracle_sql(width=8)}) t),
    xs AS (SELECT * FROM ({_exact_substr_oracle()}) t)
    SELECT fp.doc_id, fp.bpe_tokens, fp.rolling_fp, sig.simhash,
           exsub.n_tokens_dropped AS exsub_dropped,
           md5(exsub.clean_text) AS exsub_clean_fp,
           xs.n_spans_cut AS xs_spans_cut,
           xs.n_tokens_cut AS xs_tokens_cut,
           md5(xs.clean_text) AS xs_clean_fp
    FROM fp JOIN sig USING (doc_id) JOIN exsub USING (doc_id)
         JOIN xs USING (doc_id)
    """


ORACLES["text_fingerprints"] = _text_fingerprints_oracle()


def _embed_neardup_oracle(max_block: int | None = 256) -> str:
    guard = (
        f"QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= {max_block}"
        if max_block is not None
        else ""
    )
    return f"""
    WITH nv AS (
      SELECT vec_id, label, embedding, {_SQL_NORM.format(v="embedding")} AS nrm
      FROM embeddings {guard})
    SELECT a.vec_id AS a, b.vec_id AS b,
           {_SQL_DOT.format(a="a.embedding", b="b.embedding")} / (a.nrm * b.nrm) AS cosine
    FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")} / (a.nrm * b.nrm) >= 0.3
    """


@register("embed_neardup", oracle=_embed_neardup_oracle(max_block=256))
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: label-blocked all-pairs + cosine filter
    (Σ block² pairs, not N²; hash-derived blocks when no natural key —
    functions.similarity.hyperplane_signature). Registered guard-ON
    (max_block=256, same discipline as the simhash/LSH composites): the
    cap is non-binding at the gate SFs (max label block = 59 at sf0.01 /
    218 at sf0.1) but bounds the duplication-density blowup the 100×
    rotation exposed — at 100× every block is ~21,800 near-identical
    vectors, so unguarded block² work AND output pairs grow ×10,000.
    The truncation is re-derived exactly in the oracle (QUALIFY rank)."""
    from etl_edi_data_scrapper_spark.functions.dedup import embedding_near_pairs

    return embedding_near_pairs(
        _t(spark, sf_dir, "embeddings"),
        block_col="label",
        threshold=0.3,
        max_block=256,
    )


_ANN_TOPK_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, {_SQL_NORM.format(v="embedding")} AS nq
      FROM embeddings WHERE vec_id < 5),
    c AS (
      SELECT vec_id, embedding, {_SQL_NORM.format(v="embedding")} AS nc FROM embeddings),
    scored AS (
      SELECT q.q_id, c.vec_id,
             {_SQL_DOT.format(a="q.q_vec", b="c.embedding")} / (q.nq * c.nc) AS cosine
      FROM c CROSS JOIN q),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """


@register("ann_topk", oracle=None)  # filled after _ann_ivf_oracle is defined
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the embeddings, two legs tagged by ``leg``: 'brute' =
    exact cosine top-k baseline (broadcast queries × corpus scan,
    partitioned window rank); 'ivf' = IVF route+rerank (deterministic
    train='sample' centroids, top-nprobe routing, in-bucket exact rerank —
    per-query cost ~nprobe/n_centroids of the corpus, the scale path).
    LSH-bucketed probing is `ann_recall`'s legs. [r5 consolidation:
    absorbs `ann_ivf` to fit the driver's 50-query correctness cap —
    both legs' values stay hash-checked.]"""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    brute = cosine_topk(queries, emb, k=5)
    centroids, assigned = ivf_index(emb, n_centroids=16)
    ivf = ivf_topk(queries, centroids, assigned, k=5, nprobe=4)
    tag = lambda df, leg: df.select(  # noqa: E731
        F.lit(leg).alias("leg"), "q_id", "vec_id", "cosine", "rank"
    )
    return tag(brute, "brute").unionByName(tag(ivf, "ivf"))


# ---------------------------------------------------------------------------
# Source readers through the gate (SURVEY.md §2.1): stage → read → aggregate,
# oracled against the same data (or a VALUES literal for fixture-shaped
# feeds). Only int/string columns cross the text formats (double→string
# formatting is engine-specific; cleaning handles feeds' numeric text).
# ---------------------------------------------------------------------------


@register(
    "csv_scan",
    oracle="""
    SELECT count(*) AS n,
           count(DISTINCT CAST(l_partkey AS VARCHAR)) AS n_parts,
           min(l_returnflag) AS min_flag,
           max(l_returnflag) AS max_flag
    FROM lineitem
    """,
)
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan: header row = schema, all strings, malformed rows dropped
    (`CsvInputHandler.php:65-95`). Roundtrips lineitem through a staged CSV
    and aggregates — proves header/typing/row fidelity of the reader."""
    import hashlib as _hl

    from etl_edi_data_scrapper_spark.sources.files import read_csv

    def write(stage: str) -> None:
        (
            _t(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").cast("string"),
                F.col("l_partkey").cast("string"),
                F.col("l_returnflag"),
            )
            .write.option("header", True)
            .csv(f"{stage}/lineitem")
        )

    # staging is transport work, not query work: once per process and sf_dir
    stage = _fixture_dir(
        f"etl_csv_stage_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}_", write
    )
    df = read_csv(spark, f"{stage}/lineitem")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min("l_returnflag").alias("min_flag"),
        F.max("l_returnflag").alias("max_flag"),
    )


_MORRIS_FIXTURE = """<root>
  <available><gtin>0042323456789</gtin><qty>15</qty><detail><price>12.50</price></detail></available>
  <available><gtin>0099999999999</gtin><qty>3</qty><detail><price>7.25</price></detail></available>
  <available><gtin>0012300000001</gtin><qty>0</qty><detail><price>0.99</price></detail></available>
</root>"""


@register(
    "morris_xml",
    oracle="""
    SELECT * FROM (VALUES
      ('0042323456789', CAST(15 AS BIGINT), CAST(12.5 AS DOUBLE)),
      ('0099999999999', CAST(3 AS BIGINT), CAST(7.25 AS DOUBLE)),
      ('0012300000001', CAST(0 AS BIGINT), CAST(0.99 AS DOUBLE))
    ) AS t(gtin, qty, price)
    """,
)
def q_morris_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morris XML scan: one row per <available>, per-field casts
    (`MorrisXmlSftpInputHandler.php:21-62`). The scan reads the file
    lazily, so the constant fixture is staged once per process
    (``_fixture_dir``) rather than once per plan build."""
    from etl_edi_data_scrapper_spark.sources.files import read_morris_xml

    def write(stage: str) -> None:
        with open(f"{stage}/morris.xml", "w") as f:
            f.write(_MORRIS_FIXTURE)

    stage = _fixture_dir("etl_xml_q_", write)
    return read_morris_xml(spark, f"{stage}/morris.xml")


_FIXTURE_DIRS: dict[str, str] = {}


def _fixture_dir(prefix: str, write: Callable[[str], None]) -> str:
    """Stage a constant fixture once per process: ``write(dir)`` fills a
    private temp directory removed at process exit (the ``_ship_package``
    discipline); restaged if something removed it meanwhile. For queries
    whose scan reads the files lazily."""
    import atexit
    import os
    import shutil
    import tempfile

    stage = _FIXTURE_DIRS.get(prefix)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
        write(stage)
        _FIXTURE_DIRS[prefix] = stage
    return stage


@register(
    "rest_scan",
    oracle="""
    SELECT * FROM (VALUES
      ('driver', 'b1-0', CAST(10 AS BIGINT)), ('driver', 'b1-1', CAST(11 AS BIGINT)),
      ('driver', 'b2-0', CAST(20 AS BIGINT)), ('driver', 'b2-1', CAST(21 AS BIGINT)),
      ('driver', 'b3-0', CAST(30 AS BIGINT)), ('driver', 'b3-1', CAST(31 AS BIGINT)),
      ('dist', 'd1-0', CAST(10 AS BIGINT)), ('dist', 'd1-1', CAST(11 AS BIGINT)),
      ('dist', 'd2-0', CAST(20 AS BIGINT)), ('dist', 'd2-1', CAST(21 AS BIGINT)),
      ('dist', 'd3-0', CAST(30 AS BIGINT)), ('dist', 'd3-1', CAST(31 AS BIGINT)),
      ('dist', 'd4-0', CAST(40 AS BIGINT)), ('dist', 'd4-1', CAST(41 AS BIGINT))
    ) AS t(src, barcode, stock_quantity)
    """,
)
def q_rest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST scan (`RestApiInputHandler.php:24-119`) through `read_rest_api`
    over two in-memory fixture APIs, one per stop rule:
      * driver — 3 pages that carry ``meta.last_page``;
      * dist — 4 pages with no ``meta``, linked by ``links.next`` (absent
        on the last page).
    Both legs run the one paginator; `src` is only a label telling the
    legs apart, so the oracle text stays as it was.
    [r3 consolidation: absorbs the former `rest_scan_distributed` query.]"""
    import json as jsonmod

    from etl_edi_data_scrapper_spark.sources.rest import read_rest_api

    def leg(src: str, prefix: str, paging: Callable[[int], dict]) -> DataFrame:
        def fetch(url: str) -> str:
            page = int(url.split("page=")[1].split("&")[0])
            rows = [
                {"barcode": f"{prefix}{page}-{i}", "stock_quantity": page * 10 + i}
                for i in range(2)
            ]
            return jsonmod.dumps({"data": rows, **paging(page)})

        return read_rest_api(
            spark, f"https://api.example.com/v1/{src}", fetch=fetch
        ).select(F.lit(src).alias("src"), "barcode", "stock_quantity")

    driver_df = leg("driver", "b", lambda page: {"meta": {"last_page": 3}})
    dist_df = leg(
        "dist", "d",
        lambda page: {"links": {"next": f"?page={page + 1}"} if page < 4 else {}},
    )
    return driver_df.unionByName(dist_df)


# ---------------------------------------------------------------------------
# Further generalizations: as-of join (Spark lacks a native one), pivot,
# semi/anti joins, exact percentiles, and a Pandas-UDF custom operator —
# the full "switch from the reference and keep going" surface.
# ---------------------------------------------------------------------------


@register(
    "asof_join",
    oracle="""
    SELECT c.event_id, c.user_id,
           epoch_us(c.ts) AS click_us,
           (SELECT max(epoch_us(e.ts)) FROM events e
            WHERE e.user_id = c.user_id AND e.event_type = 'error'
              AND e.ts <= c.ts) AS last_error_us
    FROM events c WHERE c.event_type = 'click'
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (click → latest prior error per user) via the
    union+window trick: ONE shuffle on user_id, no range explosion — the
    scalable as-of pattern (vs per-row subqueries or merge_asof pulls)."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(0).alias("src"),
        F.col("event_id"), F.unix_micros("ts").alias("err_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("src"), F.col("event_id"),
        F.lit(None).cast("long").alias("err_us"),
    )
    # at equal ts the error (src=0) sorts before the click → "<=" semantics
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = errors.unionByName(clicks).withColumn(
        "last_error_us", F.last("err_us", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("src") == 1).select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("click_us"),
        "last_error_us",
    )


@register(
    "range_join",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS s_day
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    j AS (
      SELECT iv.o_orderkey,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(14,2))) AS q
      FROM iv JOIN lineitem l
        ON epoch_us(l.l_shipdate) // 86400000000 >= iv.s_day
       AND epoch_us(l.l_shipdate) // 86400000000 < iv.s_day + 7
      GROUP BY 1
    )
    SELECT iv.o_orderkey AS orderkey,
           coalesce(j.n, 0) AS n_shipped,
           CAST(coalesce(j.q, 0) AS DOUBLE) AS sum_qty
    FROM iv LEFT JOIN j ON iv.o_orderkey = j.o_orderkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucket-explode + broadcast equi-join
    (operators/range_join.py): lineitems shipped inside each sampled
    order's 7-day window. The naive theta-join is a nested-loop cross
    product. Because the requested aggregates (count, sum) are
    decomposable, the fact table is first collapsed to one partial row
    per ship DAY (bounded by the calendar, constant in corpus size) and
    only the day table meets the intervals — without this the join
    intermediate is O(|fact| x intervals-per-bucket), which grows
    quadratically with corpus on a fixed time axis (measured: killed
    after 25 CPU-minutes at 100x; sub-second with pre-aggregation)."""
    from etl_edi_data_scrapper_spark.operators.range_join import interval_join_preagg

    day = 86_400_000_000  # µs
    iv = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {day}").alias("s_day"),
        )
        .withColumn("e_day", F.col("s_day") + 7)
    )
    fact = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", F.expr(f"unix_micros(cast(l_shipdate as timestamp)) div {day}").alias("ship_day")
    )
    j = interval_join_preagg(
        fact, iv, "ship_day", "s_day", "e_day", bucket_width=7,
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("pq"),
        ],
        broadcast_intervals=True,
    )
    agg = j.groupBy("o_orderkey").agg(
        F.sum("pn").alias("n"),
        F.sum("pq").alias("q"),
    )
    return (
        iv.select("o_orderkey")
        .join(agg, "o_orderkey", "left")
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_shipped"),
            F.coalesce(F.col("q"), F.lit(0)).cast("double").alias("sum_qty"),
        )
    )


@register(
    "pivot_flags",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_linestatus = 'F') AS F,
           count(*) FILTER (WHERE l_linestatus = 'O') AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) — Catalyst rewrites to FILTERed aggregates in
    one shuffle when the pivot values are enumerated."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .count()
    )


@register(
    "semi_anti",
    oracle="""
    SELECT 'with_orders' AS kind, count(*) AS n FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS kind, count(*) AS n FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'fo_' || side AS kind, count(*) AS n FROM (
      SELECT CASE WHEN n.n_nationkey IS NULL THEN 'right_only'
                  WHEN r.r_regionkey IS NULL THEN 'left_only'
                  ELSE 'matched' END AS side
      FROM (SELECT * FROM nation WHERE n_regionkey <= 3) n
      FULL OUTER JOIN (SELECT * FROM region WHERE r_regionkey >= 2) r
        ON n.n_regionkey = r.r_regionkey
    ) GROUP BY side
    UNION ALL
    SELECT 'both' AS kind, count(*) AS n FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
      INTERSECT
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
    UNION ALL
    SELECT 'only_a' AS kind, count(*) AS n FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
      EXCEPT
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
    UNION ALL
    SELECT 'union_' || l_returnflag AS kind, count(*) AS n FROM (
      SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem WHERE l_linenumber <= 3
      UNION
      SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem WHERE l_linenumber >= 3
    ) GROUP BY l_returnflag
    """,
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership suite: EXISTS / NOT EXISTS as left_semi / left_anti
    joins (no row duplication, no distinct needed — the join stops at first
    match); a full outer join with unmatched-side markers counted per side;
    INTERSECT / EXCEPT (distinct set semantics — compile to aggregated
    semi/anti joins, one shuffle each); and multi-branch UNION + distinct
    (the reference's multi-file SFTP union, `ExcelInputHandler.php:44-49`,
    generalized with dedup). [r3 consolidation: absorbs the former
    `full_outer`, `set_ops` and `union_dedup` queries.]"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("kind"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_orders").alias("kind"), "n")
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") <= 3)
    r = _t(spark, sf_dir, "region").filter(F.col("r_regionkey") >= 2)
    side = (
        F.when(F.col("n_nationkey").isNull(), "right_only")
        .when(F.col("r_regionkey").isNull(), "left_only")
        .otherwise("matched")
    )
    fo = (
        n.join(r, n.n_regionkey == r.r_regionkey, "full_outer")
        .select(side.alias("side"))
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.concat(F.lit("fo_"), F.col("side")).alias("kind"), "n")
    )
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    rr = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    both = a.intersect(rr).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("kind"), "n"
    )
    only_a = (
        a.subtract(rr)  # EXCEPT (set semantics, like the SQL oracle)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("only_a").alias("kind"), "n")
    )
    ua = li.filter(F.col("l_linenumber") <= 3).select("l_orderkey", "l_returnflag").distinct()
    ub = li.filter(F.col("l_linenumber") >= 3).select("l_orderkey", "l_returnflag").distinct()
    union_counts = (
        ua.unionByName(ub)
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.concat(F.lit("union_"), F.col("l_returnflag")).alias("kind"), "n")
    )
    return (
        semi.unionByName(anti)
        .unionByName(fo)
        .unionByName(both)
        .unionByName(only_a)
        .unionByName(union_counts)
    )


@register(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines implement the
    standard (n-1)p linear interpolation). The approximate-at-scale variant
    is approx_percentile (t-digest) — sketch internals differ per engine, so
    the exact form is the oracle-checked one."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        )
    )


@register(
    "pandas_group_rank",
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS INT) AS idx,
           coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, 0) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_pandas_group_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-group stateful operator in pandas (the escape hatch for
    logic built-ins can't express; cross-checked against a window-function
    oracle). Uses the batched grouped-map (operators/grouped.py) rather
    than groupBy().applyInPandas: per-group Arrow overhead dominates with
    many small groups, so the function vectorizes across ALL groups in an
    Arrow batch — rank via cumcount, gaps via diff reset at group starts.
    Integer outputs keep the check exact."""
    import numpy as np
    import pandas as pd

    from etl_edi_data_scrapper_spark.operators.grouped import grouped_map_in_pandas

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")

    def rank_gaps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # rows arrive sorted by (user_id, ts, event_id); groups contiguous
        idx = pdf.groupby("user_id", sort=False).cumcount().to_numpy() + 1
        us = pdf["ts"].to_numpy("datetime64[us]").view("int64")
        gap = np.empty(len(us), dtype="int64")
        gap[0] = 0
        np.subtract(us[1:], us[:-1], out=gap[1:])
        gap[idx == 1] = 0  # first row of each group has no predecessor
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "idx": idx.astype("int32"),
                "gap_us": gap,
            }
        )

    return grouped_map_in_pandas(
        ev,
        keys=["user_id"],
        fn=rank_gaps,
        schema="user_id long, event_id long, idx int, gap_us long",
        order=["ts", "event_id"],
    )


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS kind,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256
    FROM documents WHERE doc_id < 100
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the gate: documents' bytes stand in for
    media content (no codec needed), flow through the Arrow mapInPandas
    feature-extraction stage, and the digests/byte counts are oracle-checked
    — proving batch iteration, binary handling, and schema fidelity."""
    from etl_edi_data_scrapper_spark.functions.multimodal import (
        extract_features,
        fake_decode_kernel,
    )

    _ship_package(spark)  # module-level kernel fn deserializes on executors
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, kernel=fake_decode_kernel)
    return feats.select("media_id", "kind", "n_bytes", "sha256")


@register(
    "approx_stats",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS parts_ok,
           TRUE AS median_ok
    FROM lineitem WHERE l_orderkey % 4 = 0 GROUP BY l_returnflag
    """,
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HyperLogLog++) and quantile (t-digest style) —
    THE 100 TB substitutes for exact countDistinct/percentile — wrapped in
    a self-check gate: the sketch VALUES are engine-specific (un-oracle-able
    bit-for-bit), but their error bound isn't, so the query emits in-plan
    booleans `abs(approx − exact)/exact < ε` per group (exact computed in
    the same aggregate), making row content deterministic and
    hash-oracle-able — the oracle asserts the booleans TRUE plus the exact
    anchors. ε = 0.15 for HLL (3× the default 5% rsd) and 0.05 for the
    median (approx_percentile's rank error at default accuracy is ≤1e-4).
    The gate runs on a 25% deterministic key-subset (the exact anchors
    exist only to check the sketches; at 100 TB you run only the approx
    side) and — the load-bearing plan detail — the sketch aggregates live
    in a SEPARATE aggregation broadcast-joined back on the 3 group rows:
    mixing countDistinct with a TypedImperativeAggregate in ONE agg makes
    Spark's distinct-rewrite carry a partial sketch buffer per (group,
    distinct key) and merge ~18k QuantileSummaries per group — measured
    10× slower than the two-agg + tiny-join shape."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("_exact_median"),
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("_approx_median"),
    )
    return exact.join(F.broadcast(sketches), "l_returnflag").select(
        "l_returnflag",
        "n",
        "exact_parts",
        (
            F.abs(F.col("_approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.15
        ).alias("parts_ok"),
        (
            F.abs(F.col("_approx_median") - F.col("_exact_median"))
            / F.col("_exact_median")
            < 0.05
        ).alias("median_ok"),
    )


def _ann_lsh_oracle(
    n_planes: int = 5, dim: int = 64, k: int = 5, multiprobe: bool = True
) -> str:
    """The hyperplanes are md5-derived CONSTANTS (similarity.py:
    hyperplane_signature), so the 'approximate' LSH path is still exactly
    reproducible: emit the same weights as SQL list literals and replicate
    bucket + multiprobe + rerank arithmetic."""
    import hashlib

    bit_exprs = []
    for p in range(n_planes):
        weights = ", ".join(
            repr(float(int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16)) - 7.5)
            for d in range(dim)
        )
        dot = (
            f"list_sum(list_transform(list_zip(embedding, [{weights}]), "
            "x -> x[1]::DOUBLE * x[2]))"
        )
        bit_exprs.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    bucket = "concat(" + ", ".join(bit_exprs) + ")"
    if multiprobe:
        flips = ["bucket"] + [
            f"concat(substring(bucket, 1, {p}), "
            f"CASE WHEN substring(bucket, {p + 1}, 1) = '1' THEN '0' ELSE '1' END, "
            f"substring(bucket, {p + 2}, {n_planes - p - 1}))"
            for p in range(n_planes)
        ]
        q_cte = f"""
    q AS (SELECT q_id, q_vec, nq, unnest([{", ".join(flips)}]) AS bucket
          FROM (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS nq, bucket
                FROM sig WHERE vec_id < 5) qq)"""
    else:
        q_cte = """
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS nq, bucket
          FROM sig WHERE vec_id < 5)"""
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_SQL_NORM.format(v="embedding")} AS nrm,
             {bucket} AS bucket
      FROM embeddings),
    {q_cte},
    scored AS (
      SELECT q.q_id, c.vec_id,
             {_SQL_DOT.format(a="q.q_vec", b="c.embedding")} / (q.nq * c.nrm) AS cosine
      FROM sig c JOIN q USING (bucket)),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


_SIMHASH_MAX_BLOCK = 256  # caps per-block pair work at 256²/2 structs/row


@register(
    "simhash_pairs",
    oracle=f"""
    SELECT a, b, hamming, 48 AS sig_bits
    FROM ({_simhash_pairs_oracle(bits=48, max_hamming=3, max_block=_SIMHASH_MAX_BLOCK)})
    UNION ALL
    SELECT a, b, hamming, 64 AS sig_bits
    FROM ({_simhash64_pairs_oracle(max_hamming=3, max_block=_SIMHASH_MAX_BLOCK)})
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 via multi-piece blocking (the
    Manku/Jain/Sarma WWW'07 scheme: 4 pieces ⇒ pigeonhole-complete recall —
    every qualifying pair shares at least one untouched piece; the former
    single-prefix block silently missed pairs differing in a high bit).
    Two legs, tagged by `sig_bits`:

    * 48-bit single-long signatures (12-bit pieces, 4096 blocks/piece) —
      the widest width where the portable floor/division piece arithmetic
      stays exact on one long (< 2^53).
    * 64-bit production signatures (two 32-bit halves, 16-bit
      pieces, 65k blocks/piece) — the Manku operating point for h ≤ 3;
      the hi/lo split keeps block extraction exact and sidesteps the
      signed-long bit-63 overflow.

    A 32-bit signature over this template-generated corpus degenerates to
    near-all-pairs (25× the output); wider signatures keep block occupancy,
    and therefore the local quadratic pairing cost, bounded as the corpus
    grows. Deterministic by construction (md5-derived signatures), so fully
    oracled: the DuckDB side replicates signature, piece-blocking and
    xor/bit_count pair arithmetic for both legs.

    The two legs share ONE signature kernel pass AND one blocking shuffle
    (`dedup.simhash_pairs_multi`): bit sums for bit i are
    width-independent, so the 64-bit `simhash_bit_sums` feeds a single
    projection carrying all three signature values (48-bit long + 64-bit
    hi/lo), and one explode emits all 8 (leg, piece, block) entries per
    doc. The whole query is a single linear plan — kernel groupBy → piece
    explode → ONE groupBy(leg, piece, block) with local pair explosion —
    with no union, no checkpoint, and no double execution of anything.

    [r7: the `max_block` hot-block guard is ON in the registered form
    (256 smallest ids per (leg, piece, block) — the r6 30× smoke OOM'ed
    the unguarded 48-bit leg, whose 4096-value pieces saturate as the
    corpus grows; a hot block of B entries emits B²/2 pair structs in one
    row). The truncation is deterministic (sorted-struct slice ≡ rank
    window over (piece, block) ordered by doc_id), so both legs' oracles
    replicate it bit-for-bit and the query stays fully hash-checked. At
    sf0.01/sf0.1 no block reaches 256, so results are unchanged; at 30×+
    the cap bounds local pair work instead of OOMing.]"""
    from etl_edi_data_scrapper_spark.functions.dedup import simhash_pairs_multi

    return simhash_pairs_multi(
        _t(spark, sf_dir, "documents"),
        single_bits=48,
        max_hamming=3,
        max_block=_SIMHASH_MAX_BLOCK,
    )


@register(
    "excel_scan",
    oracle="""
    SELECT * FROM (VALUES
      ('0042', '15', '12,99'),
      ('0043', '7', NULL),
      ('0044', '3', '9.99'),
      ('0051', '8', '4,25'),
      ('0052', '12', NULL),
      ('0053', '5', '7.5'),
      ('0061', '9', '3,10'),
      ('0062', '2', NULL),
      ('0071', '4', '2,50'),
      ('0072', '6', NULL),
      ('0081', '11', '8.25'),
      ('0082', '3', NULL),
      ('0091', '14', '6,75'),
      ('0092', '1', NULL)
    ) AS t(UPC, Quantity, Wholesale)
    """,
)
def q_excel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel scan through the gate, ALL the spreadsheet formats the
    reference's auto-detecting loader reads (`ExcelInputHandler.php:27-242`,
    PhpSpreadsheet `IOFactory::load` at :108-116): a spec-valid XLSX (zip of
    XML) parsed by the stdlib reader — header row, shared strings, numeric
    cells as literal text, short-row padding — unioned with a legacy BIFF8
    ``.xls`` (OLE2 mini-stream container, SST/LABELSST/NUMBER records) and
    an OpenDocument ``.ods`` (zip, content.xml typed cells), a supplier-
    portal HTML table export, a SYLK ``.slk`` (semicolon records) and a
    gzipped Gnumeric workbook — the COMPLETE IOFactory auto-detect matrix
    — through the same ``read_excel`` dispatch-on-magic path (multi-file
    glob union = `ExcelInputHandler.php:44-49`). ``read_excel`` decodes
    every format on the driver into a local relation, so the staged files
    are removed as soon as it returns."""
    import os
    import shutil
    import tempfile
    import zipfile

    from etl_edi_data_scrapper_spark.sources.files import read_excel

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    rid = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2" t="s"><v>4</v></c>'
        '<c r="C2" t="s"><v>5</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>6</v></c><c r="B3" t="s"><v>7</v></c></row>'
        '<row r="4"><c r="A4" t="s"><v>8</v></c><c r="B4"><v>3</v></c>'
        '<c r="C4"><v>9.99</v></c></row>'
        "</sheetData></worksheet>"
    )
    sst_vals = ["UPC", "Quantity", "Wholesale", "0042", "15", "12,99", "0043", "7", "0044"]
    sst = (
        f'<?xml version="1.0"?><sst {ns}>'
        + "".join(f"<si><t>{v}</t></si>" for v in sst_vals)
        + "</sst>"
    )
    stage = tempfile.mkdtemp(prefix="etl_xlsx_q_")
    path = os.path.join(stage, "feed.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rid}"><sheets>'
            f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0"?><Relationships {rns}>'
            f'<Relationship Id="rId1" Type="{rid}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8

    write_minimal_biff8(
        os.path.join(stage, "legacy.xls"),
        [
            ["UPC", "Quantity", "Wholesale"],
            ["0051", "8", "4,25"],
            ["0052", "12", None],
            ["0053", 5.0, 7.5],
        ],
    )

    from etl_edi_data_scrapper_spark.sources.ods import write_minimal_ods

    write_minimal_ods(
        os.path.join(stage, "open.ods"),
        [
            ["UPC", "Quantity", "Wholesale"],
            ["0061", 9.0, "3,10"],
            ["0062", "2", None],
        ],
    )

    # supplier-portal "download as spreadsheet" HTML export
    # (IOFactory's Html reader leg)
    with open(os.path.join(stage, "portal.html"), "w", encoding="utf-8") as fh:
        fh.write(
            "<!DOCTYPE html><html><head><title>Feed</title></head><body>"
            "<h1>Export</h1><table>"
            "<tr><th>UPC</th><th>Quantity</th><th>Wholesale</th></tr>"
            "<tr><td>0071</td><td>4</td><td>2,50</td></tr>"
            "<tr><td>0072</td><td>6</td></tr>"
            "</table></body></html>"
        )

    from etl_edi_data_scrapper_spark.sources.sylk import write_minimal_sylk

    write_minimal_sylk(
        os.path.join(stage, "legacy.slk"),
        [
            ["UPC", "Quantity", "Wholesale"],
            ["0081", 11.0, "8.25"],
            ["0082", "3", None],
        ],
    )

    from etl_edi_data_scrapper_spark.sources.gnumeric import write_minimal_gnumeric

    write_minimal_gnumeric(
        os.path.join(stage, "gnome.gnumeric"),
        [
            ["UPC", "Quantity", "Wholesale"],
            ["0091", 14.0, "6,75"],
            ["0092", "1", None],
        ],
    )
    try:
        return read_excel(spark, os.path.join(stage, "*.*"))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _ann_ivf_oracle(n_centroids: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """train='sample' centroids are the lowest vec_ids — fully
    deterministic, so assignment (argmax cosine, tie → lowest centroid),
    routing (top-nprobe centroids per query) and in-bucket rerank are all
    replicable in SQL."""
    return f"""
    WITH nv AS (
      SELECT vec_id, embedding, {_SQL_NORM.format(v="embedding")} AS nrm
      FROM embeddings),
    cen AS (
      SELECT vec_id AS centroid_id, embedding AS centroid_vec, nrm AS ncen
      FROM nv ORDER BY vec_id LIMIT {n_centroids}),
    ascore AS (
      SELECT nv.vec_id, nv.embedding, nv.nrm, cen.centroid_id,
             {_SQL_DOT.format(a="nv.embedding", b="cen.centroid_vec")}
               / (nv.nrm * cen.ncen) AS csim
      FROM nv CROSS JOIN cen),
    assigned AS (
      SELECT vec_id, embedding, nrm, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rk
        FROM ascore) WHERE rk = 1),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS nq
          FROM nv WHERE vec_id < 5),
    qscore AS (
      SELECT q.q_id, q.q_vec, q.nq, cen.centroid_id,
             {_SQL_DOT.format(a="q.q_vec", b="cen.centroid_vec")}
               / (q.nq * cen.ncen) AS qsim
      FROM q CROSS JOIN cen),
    routed AS (
      SELECT q_id, q_vec, nq, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY qsim DESC, centroid_id) AS rk
        FROM qscore) WHERE rk <= {nprobe}),
    cand AS (
      SELECT r.q_id, a.vec_id,
             {_SQL_DOT.format(a="r.q_vec", b="a.embedding")} / (r.nq * a.nrm) AS cosine
      FROM assigned a JOIN routed r USING (centroid_id)),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM cand)
    SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


ORACLES["ann_topk"] = f"""
    SELECT 'brute' AS leg, q_id, vec_id, cosine, rank FROM ({_ANN_TOPK_ORACLE}) t
    UNION ALL
    SELECT 'ivf' AS leg, q_id, vec_id, cosine, rank FROM ({_ann_ivf_oracle()}) t
    """


_RECALL_THRESHOLDS = {
    "lsh_p0": 0.2,
    "lsh_p1": 0.4,
    "ivf": 0.4,
    "pq": 0.2,
    "ivfpq": 0.1,
}


def _pq_sql_ctes(
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """WITH-level CTEs replicating the PQ/IVFADC legs (similarity.pq_*,
    train='sample' codebooks — lowest-id subvectors, fully deterministic).
    Mirrors the Spark side operation-for-operation so doubles agree:
    squared-L2 via list_zip/transform/sum in element order, ADC as
    list_sum over an ORDER BY sub_id list (= the Spark sequence fold),
    ties → lowest code_id / vec_id / centroid_id."""
    d = dim // m_sub

    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)))"
        )

    def sub(v: str, s: str) -> str:
        return (
            f"list_transform(list_slice({v}, {s}*{d}+1, {s}*{d}+{d}), "
            "x -> x::DOUBLE)"
        )

    return f"""
    pq_q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             {_SQL_NORM.format(v="embedding")} AS nq
      FROM embeddings WHERE vec_id < 5),
    pq_exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {sqd("q.q_vec", "c.embedding")} ASC,
                          c.vec_id) AS rank
        FROM embeddings c CROSS JOIN pq_q q) WHERE rank <= {k}),
    pq_cb AS (
      SELECT s.sub_id, c.code_id, {sub("c.embedding", "s.sub_id")} AS sub_vec
      FROM (
        SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {n_codes})) c
      CROSS JOIN (SELECT unnest(range({m_sub})) AS sub_id) s),
    pq_enc AS (
      SELECT vec_id, sub_id, code_id FROM (
        SELECT v.vec_id, b.sub_id, b.code_id,
               row_number() OVER (PARTITION BY v.vec_id, b.sub_id
                 ORDER BY {sqd(sub("v.embedding", "b.sub_id"), "b.sub_vec")} ASC,
                          b.code_id) AS rk
        FROM embeddings v CROSS JOIN pq_cb b) WHERE rk = 1),
    pq_dtab AS (
      SELECT q.q_id, b.sub_id, b.code_id,
             {sqd(sub("q.q_vec", "b.sub_id"), "b.sub_vec")} AS d
      FROM pq_q q CROSS JOIN pq_cb b),
    pq_adc AS (
      SELECT dt.q_id, e.vec_id, list_sum(list(dt.d ORDER BY e.sub_id)) AS adc
      FROM pq_enc e JOIN pq_dtab dt
        ON e.sub_id = dt.sub_id AND e.code_id = dt.code_id
      GROUP BY dt.q_id, e.vec_id),
    pq_topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY adc ASC, vec_id) AS rank
        FROM pq_adc) WHERE rank <= {k}),
    pq_cen AS (
      SELECT vec_id AS centroid_id, embedding AS centroid_vec,
             {_SQL_NORM.format(v="embedding")} AS ncen
      FROM embeddings ORDER BY vec_id LIMIT {n_centroids}),
    pq_assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cen.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_SQL_DOT.format(a="v.embedding", b="cen.centroid_vec")}
                   / ({_SQL_NORM.format(v="v.embedding")} * cen.ncen) DESC,
                 cen.centroid_id) AS rk
        FROM embeddings v CROSS JOIN pq_cen cen) WHERE rk = 1),
    pq_routed AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, cen.centroid_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_SQL_DOT.format(a="q.q_vec", b="cen.centroid_vec")}
                   / (q.nq * cen.ncen) DESC,
                 cen.centroid_id) AS rk
        FROM pq_q q CROSS JOIN pq_cen cen) WHERE rk <= {nprobe}),
    pq_ivfadc AS (
      SELECT dt.q_id, e.vec_id, list_sum(list(dt.d ORDER BY e.sub_id)) AS adc
      FROM pq_enc e
      JOIN pq_assigned a ON a.vec_id = e.vec_id
      JOIN pq_routed r ON r.centroid_id = a.centroid_id
      JOIN pq_dtab dt ON dt.q_id = r.q_id AND dt.sub_id = e.sub_id
        AND dt.code_id = e.code_id
      GROUP BY dt.q_id, e.vec_id),
    pq_ivftopk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY adc ASC, vec_id) AS rank
        FROM pq_ivfadc) WHERE rank <= {k})"""


def _ann_recall_oracle() -> str:
    """recall@k of each approximate ANN path against the exact baseline,
    composed from the (deterministic) ANN oracles as CTEs, plus the
    multiprobe-monotonicity gate: 1-bit probing explores a superset of the
    0-bit bucket, so recall must not drop."""

    def rec(name: str, approx_sql: str) -> str:
        return f"""
    {name} AS (
      SELECT CAST(count(a.vec_id) AS BIGINT) AS hits,
             CAST(count(*) AS BIGINT) AS total,
             CAST(count(a.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
      FROM (SELECT q_id, vec_id FROM ({_ANN_TOPK_ORACLE}) t) e
      LEFT JOIN (SELECT q_id, vec_id FROM ({approx_sql}) t) a
        USING (q_id, vec_id))"""

    def rec_cte(name: str, exact_cte: str, approx_cte: str) -> str:
        return f"""
    {name} AS (
      SELECT CAST(count(a.vec_id) AS BIGINT) AS hits,
             CAST(count(*) AS BIGINT) AS total,
             CAST(count(a.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
      FROM {exact_cte} e
      LEFT JOIN {approx_cte} a USING (q_id, vec_id))"""

    ctes = ",".join(
        [
            _pq_sql_ctes(),
            rec("r_p0", _ann_lsh_oracle(multiprobe=False)),
            rec("r_p1", _ann_lsh_oracle(multiprobe=True)),
            rec("r_ivf", _ann_ivf_oracle()),
            # PQ legs measure quantization-induced recall loss against the
            # metric PQ actually approximates (squared L2) — not cosine
            rec_cte("r_pq", "pq_exact", "pq_topk"),
            rec_cte("r_ivfpq", "pq_exact", "pq_ivftopk"),
        ]
    )
    legs = "\n    UNION ALL\n".join(
        f"""    SELECT '{m}' AS method, hits, total, recall,
           recall >= {t} AS meets_threshold FROM r_{m.removeprefix("lsh_")}"""
        for m, t in _RECALL_THRESHOLDS.items()
    )
    return f"""
    WITH {ctes}
{legs}
    UNION ALL
    SELECT 'lsh_monotone' AS method, r_p1.hits, r_p0.hits AS total,
           r_p1.recall - r_p0.recall AS recall,
           r_p1.recall >= r_p0.recall AS meets_threshold
    FROM r_p1, r_p0
    """


@register("ann_recall", oracle=_ann_recall_oracle())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking ANN quality gate: recall@5 of the hyperplane-LSH path
    (0-bit and 1-bit multiprobe) and the IVF path against the exact
    brute-force top-k, computed in-plan (no collect). One row per method,
    plus the `lsh_monotone` row asserting the multiprobe superset property
    (1-bit probing explores a superset of buckets, so recall must be
    monotone non-decreasing) — `meets_threshold` makes each quality
    contract an assertable output instead of a side-channel.
    [r3 consolidation: absorbs the former `ann_lsh` query — both probe
    settings of `lsh_topk` are exercised and hash-verified through the
    recall join against the exact baseline.]
    [r11: absorbs the PQ family (same 50-query-cap discipline): `pq` =
    full-scan ADC over train='sample' codebooks (similarity.pq_encode /
    pq_adc_topk), `ivfpq` = IVF-routed ADC (FAISS's IVFADC layout,
    similarity.ivfpq_topk) — both judged against the exact squared-L2
    top-k (the metric PQ approximates), computed in-plan, so their
    recall rows isolate quantization loss from metric mismatch.]"""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _sq_dist,
        cosine_topk,
        ivf_index,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_adc_topk,
        pq_encode,
        sample_codebooks_local,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # r14 measured A/B (idle host, min-of-3): checkpointing every reused
    # frame (queries/exact/exact_l2/all five legs) REGRESSED 5.79→7.02 s
    # — nine lazy-checkpoint materializations are nine sequential job
    # barriers, and AQE's runtime exchange reuse already dedups the
    # identical subtrees the 1,902-line before-plan shows duplicated. The
    # r15 kept subset: `queries` (5 rows, one bounded job, removes seven
    # re-statements of the filtered scan) and `assigned` (the one
    # corpus-sized frame whose k-argmin assignment feeds BOTH the ivf leg
    # and the ivfpq re-encode — at 100 TB that is the corpus-sized
    # recompute; verdict r14 item 1).
    queries = queries.localCheckpoint(eager=False)
    exact = cosine_topk(queries, emb, k=5).select("q_id", "vec_id")
    centroids, assigned = ivf_index(emb, n_centroids=16)
    assigned = assigned.localCheckpoint(eager=False)
    # PQ legs (r11): judged against the metric PQ approximates — exact
    # squared-L2 top-k — so the recall row isolates quantization loss
    wl2 = W.partitionBy("q_id").orderBy(F.col("__d").asc(), F.col("vec_id"))
    exact_l2 = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(queries))
        .select(
            "q_id",
            "vec_id",
            _sq_dist(F.col("q_vec"), F.col("embedding")).alias("__d"),
        )
        .withColumn("__rk", F.row_number().over(wl2))
        .filter(F.col("__rk") <= 5)
        .select("q_id", "vec_id")
    )
    # fetch the (m_sub × n_codes)-entry codebook ONCE, driver-side;
    # encode/ADC/IVFADC all ship it to their Arrow kernels (one bounded
    # job per plan build — value-identical to collecting pq_codebooks,
    # pinned)
    cbs = sample_codebooks_local(emb, m_sub=8, n_codes=16, dim=64)
    enc = pq_encode(emb.select("vec_id", "embedding"), cbs)
    enc_assigned = pq_encode(assigned, cbs)
    legs = {
        "lsh_p0": lsh_topk(
            queries, emb, k=5, n_planes=5, multiprobe=False
        ).select("q_id", "vec_id"),
        "lsh_p1": lsh_topk(
            queries, emb, k=5, n_planes=5, multiprobe=True
        ).select("q_id", "vec_id"),
        "ivf": ivf_topk(queries, centroids, assigned, k=5, nprobe=4).select(
            "q_id", "vec_id"
        ),
        "pq": pq_adc_topk(queries, cbs, enc, k=5).select("q_id", "vec_id"),
        "ivfpq": ivfpq_topk(
            queries, centroids, enc_assigned, cbs, k=5, nprobe=4
        ).select("q_id", "vec_id"),
    }
    # r15 restructure (verdict item 1): the r14 shape stated each
    # (base_exact ⋈ leg → agg) subtree SEVEN times (five recall rows +
    # two more for the monotone row) — 64 `embeddings` scans / 116
    # Exchanges in the before-plan. Value-identical single pass:
    #   1. union the five approx legs into ONE method-tagged bounded
    #      frame (each leg is n_queries×k rows by construction; each leg
    #      subtree now stated exactly once),
    #   2. replicate each exact baseline per consuming method with one
    #      explode of a literal method array (exact and exact_l2 each
    #      stated exactly once),
    #   3. one broadcast left join on (method, q_id, vec_id) + ONE
    #      global conditional aggregate: per-method hits/total are
    #      count(CASE WHEN method=m ...) over the same joined rows the
    #      per-method aggregates counted — identical longs, identical
    #      double divisions,
    #   4. all six output rows (five thresholds + the monotone gate)
    #      explode from one literal struct array over that single
    #      aggregate row — no re-statement, no checkpoint barrier, the
    #      whole pipeline stays visible in one explain.
    approx_all = None
    for method, approx in legs.items():
        tagged = approx.select(
            F.lit(method).alias("method"), "q_id", "vec_id"
        ).withColumn("__hit", F.lit(1))
        approx_all = (
            tagged if approx_all is None else approx_all.unionByName(tagged)
        )
    cos_methods = [m for m in legs if m not in ("pq", "ivfpq")]
    l2_methods = [m for m in legs if m in ("pq", "ivfpq")]
    base_all = exact.withColumn(
        "method", F.explode(F.array(*[F.lit(m) for m in cos_methods]))
    ).select("method", "q_id", "vec_id").unionByName(
        exact_l2.withColumn(
            "method", F.explode(F.array(*[F.lit(m) for m in l2_methods]))
        ).select("method", "q_id", "vec_id")
    )
    j = base_all.join(
        F.broadcast(approx_all), ["method", "q_id", "vec_id"], "left"
    )
    aggs = []
    for m in legs:
        aggs.append(
            F.count(F.when(F.col("method") == m, F.col("__hit"))).alias(f"h_{m}")
        )
        aggs.append(
            F.count(F.when(F.col("method") == m, F.lit(1))).alias(f"t_{m}")
        )
    one = j.agg(*aggs)

    def rec(m: str) -> Column:
        return F.col(f"h_{m}").cast("double") / F.col(f"t_{m}").cast("double")

    entries = [
        F.struct(
            F.lit(m).alias("method"),
            F.col(f"h_{m}").alias("hits"),
            F.col(f"t_{m}").alias("total"),
            rec(m).alias("recall"),
            (rec(m) >= F.lit(t)).alias("meets_threshold"),
        )
        for m, t in _RECALL_THRESHOLDS.items()
    ]
    entries.append(
        F.struct(
            F.lit("lsh_monotone").alias("method"),
            F.col("h_lsh_p1").alias("hits"),
            F.col("h_lsh_p0").alias("total"),
            (rec("lsh_p1") - rec("lsh_p0")).alias("recall"),
            (rec("lsh_p1") >= rec("lsh_p0")).alias("meets_threshold"),
        )
    )
    return one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


@register(
    "json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: JSON path extraction from a string column
    (events.props), aggregated — stays JVM-side via get_json_object."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.sum(
            F.get_json_object("props", "$.k").try_cast("long")
        ).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# One SQL text, two engines (STRING is a VARCHAR alias on both): correlated
# EXISTS + correlated scalar subqueries (cross-multiplied price·count > sum so
# the comparison stays in exact DECIMAL arithmetic — no float-division
# boundary flips between engines).
_SQL_API_SQL = """
    SELECT 'exists_agg' AS part, s.s_name AS k,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS v
    FROM {supplier} s JOIN {lineitem} l ON l.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM {nation} n
                  WHERE n.n_nationkey = s.s_nationkey AND n.n_regionkey = 0)
    GROUP BY s.s_name
    UNION ALL
    SELECT 'above_avg' AS part, CAST(o.o_custkey AS STRING) AS k,
           CAST(count(*) AS DOUBLE) AS v
    FROM {orders} o
    WHERE CAST(o.o_totalprice AS DECIMAL(16,2))
          * (SELECT count(*) FROM {orders} o2
             WHERE o2.o_custkey = o.o_custkey)
          > (SELECT sum(CAST(o3.o_totalprice AS DECIMAL(16,2))) FROM {orders} o3
             WHERE o3.o_custkey = o.o_custkey)
    GROUP BY o.o_custkey
"""


@register(
    "sql_api",
    oracle=_SQL_API_SQL.format(
        supplier="supplier", lineitem="lineitem", nation="nation", orders="orders"
    ),
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: temp views + spark.sql — correlated EXISTS
    (rewritten to a semi join) and correlated scalar subqueries (Catalyst
    decorrelates both into aggregate+join, no per-row re-execution).
    Catalyst produces the same plan as the DataFrame API, so users can pick
    either per query. [r3 consolidation: absorbs the former
    `scalar_subquery` query; the oracle is the IDENTICAL SQL text.]"""
    for t in ("supplier", "lineitem", "nation", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        _SQL_API_SQL.format(
            supplier="v_supplier",
            lineitem="v_lineitem",
            nation="v_nation",
            orders="v_orders",
        )
    )




def _kmeans_assign_ctes(k: int = 8, n_iters: int = 3, dim: int = 64) -> str:
    """The unrolled Lloyd's CTE chain ending at ``afinal(vec_id, c)`` —
    shared by the kmeans and semdedup oracles (the engine's k-means is
    DETERMINISTIC: md5-ordered init, sequential-fold distances, exact
    DECIMAL mean updates, so n_iters of assign→update replay exactly)."""
    sqdist = (
        "list_sum(list_transform(list_zip(nv.embedding, cen.cv), "
        "p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])))"
    )
    ctes = [
        "nv AS (SELECT vec_id, embedding FROM embeddings)",
        f"""cen0 AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS c,
             list_transform(embedding, x -> x::DOUBLE) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}))""",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(f"""a{i} AS (
      SELECT vec_id, embedding, c FROM (
        SELECT nv.vec_id, nv.embedding, cen.c,
               row_number() OVER (PARTITION BY nv.vec_id
                                  ORDER BY {sqdist}, cen.c) AS rk
        FROM nv CROSS JOIN cen{i - 1} cen) t WHERE rk = 1)""")
        ctes.append(f"""up{i} AS (
      SELECT c, g.pos AS pos,
             CAST(sum(CAST(embedding[g.pos]::DOUBLE AS DECIMAL(28,10)))
                  AS DOUBLE) / count(*) AS m
      FROM a{i} CROSS JOIN generate_series(1, {dim}) AS g(pos)
      GROUP BY c, g.pos)""")
        ctes.append(f"""cen{i} AS (
      SELECT p.c, coalesce(u.cv, p.cv) AS cv
      FROM cen{i - 1} p LEFT JOIN
           (SELECT c, list(m ORDER BY pos) AS cv FROM up{i} GROUP BY c) u
        ON u.c = p.c)""")
    final = f"""afinal AS (
      SELECT vec_id, c FROM (
        SELECT nv.vec_id, cen.c,
               row_number() OVER (PARTITION BY nv.vec_id
                                  ORDER BY {sqdist}, cen.c) AS rk
        FROM nv CROSS JOIN cen{n_iters} cen) t WHERE rk = 1)"""
    ctes.append(final)
    return "WITH " + ",\n    ".join(ctes)


def _kmeans_oracle(
    k: int = 8, n_iters: int = 3, dim: int = 64, keep_frac: float = 0.5
) -> str:
    """Cluster sizes + the prototype-pruning leg (Sorscher et al. 2022):
    per cluster, how many of the ``keep_frac`` hardest (farthest-from-
    centroid) examples are kept, the id-checksum of the keep set, and the
    keep set's minimum distance (the pruning threshold). The engine's
    histogram+boundary-rank selection is spec'd here as the plain full
    rank it must equal. Distances are arithmetic-only doubles (same
    ordered fold both engines) quantized to integer micro before
    aggregation; DuckDB integer sums are HUGEINT — cast back."""
    sqd = (
        "list_sum(list_transform(list_zip(e.embedding, cen.cv), "
        "p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])))"
    )
    return f"""{_kmeans_assign_ctes(k, n_iters, dim)},
    dist AS (
      SELECT a.vec_id, a.c,
             CAST(floor({sqd} * 1000000) AS BIGINT) AS dm
      FROM afinal a JOIN embeddings e USING (vec_id)
      JOIN cen{n_iters} cen ON cen.c = a.c),
    rk AS (
      SELECT vec_id, c, dm,
             row_number() OVER (PARTITION BY c ORDER BY dm DESC, vec_id) AS r,
             count(*) OVER (PARTITION BY c) AS cn
      FROM dist)
    SELECT c AS cluster, count(*) AS n,
           CAST(sum(CASE WHEN r <= ceil({keep_frac} * cn) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hard,
           CAST(sum(CASE WHEN r <= ceil({keep_frac} * cn) THEN vec_id END)
                AS BIGINT) AS kept_id_sum,
           min(CASE WHEN r <= ceil({keep_frac} * cn) THEN dm END)
               AS kept_dmin_micro
    FROM rk GROUP BY c"""


def _semdedup_oracle(
    k: int = 8, n_iters: int = 3, dim: int = 64, threshold: float = 0.3
) -> str:
    return f"""{_kmeans_assign_ctes(k, n_iters, dim)},
    bl AS (
      SELECT a.vec_id, a.c, e.embedding, {_SQL_NORM.format(v="e.embedding")} AS nrm
      FROM afinal a JOIN embeddings e USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS pa, y.vec_id AS pb
      FROM bl x JOIN bl y ON x.c = y.c AND x.vec_id < y.vec_id
      WHERE {_SQL_DOT.format(a="x.embedding", b="y.embedding")} / (x.nrm * y.nrm)
            >= {threshold}),
    cnt AS (SELECT pb, count(*) AS n FROM pairs GROUP BY pb)
    SELECT bl.vec_id, CAST(bl.c AS BIGINT) AS cluster,
           CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_dupped_by,
           coalesce(cnt.n, 0) = 0 AS keep
    FROM bl LEFT JOIN cnt ON cnt.pb = bl.vec_id
    """


@register("kmeans", oracle=_kmeans_oracle())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings table (functions/clustering.py):
    driver-resident centroids embedded as literals → assignment is a
    narrow argmin projection; update is one (cluster, dim) shuffle per
    iteration. Fully deterministic (md5-ordered init, exact DECIMAL mean
    updates), so even this iterative algorithm is hash-oracled — the SQL
    side unrolls the three iterations as CTEs. [r7: absorbs a
    prototype-pruning leg (`clustering.py::prototype_prune`, Sorscher et
    al. 2022) — keep the 50% hardest per cluster by distance-to-centroid;
    the per-cluster keep-count, keep-set id checksum, and
    pruning-threshold distance make the exact keep SET hash-checked,
    while the engine selects via the coarse-histogram + boundary-rank
    path (no per-cluster sort).]"""
    from etl_edi_data_scrapper_spark.functions.clustering import (
        kmeans_fit,
        prototype_prune,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, assigned = kmeans_fit(emb, k=8, n_iters=3)
    pruned = prototype_prune(assigned, centroids, keep_frac=0.5, hardest=True)
    kept = F.col("proto_keep")
    return (
        pruned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_hard"),
            F.sum(F.when(kept, F.col("vec_id"))).cast("long").alias("kept_id_sum"),
            F.min(F.when(kept, F.col("dist_micro"))).alias("kept_dmin_micro"),
        )
        .orderBy("cluster")
    )


@register("semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (`functions/clustering.py::semantic_dedup`): k-means
    clusters as LEARNED dedup blocks, cosine near-dup verdicts within
    blocks only (Σ cluster², never N²) — the embedding-space curation
    modality of a web-scale pipeline. Deterministic end-to-end, so the
    oracle replays Lloyd's unrolled CTEs plus the within-cluster pair
    join and the verdict hash-compares."""
    from etl_edi_data_scrapper_spark.functions.clustering import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"))


