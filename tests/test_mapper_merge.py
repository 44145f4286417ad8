"""Operator-level semantics tests: mapper, keyed merge, enrichment join.

Covers the reference behaviors the oracle queries also exercise, plus edge
cases on tiny hand-built frames (null-key drop, merge-rule arming — the
reference's P0 bug implemented as intended, §2.8.1)."""

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.operators.mapper import (
    MissingSourceColumnsError,
    map_columns,
)
from etl_edi_data_scrapper_spark.operators.merge import enrich, keyed_merge, with_seq


def feed(spark):
    rows = [
        # (seq, UPC, Quantity, Wholesale, Sublocation)
        (1, "42", "10", "5.00", "A"),
        (2, "42", "3", "7,50", "B"),
        (3, "", "99", "1.00", "X"),      # empty key → dropped at merge
        (4, None, "99", "1.00", "X"),    # null key → dropped at merge
        (5, "42", "7", "6.25", "C"),
        (6, "77", "1", "2.00", "D"),
    ]
    return spark.createDataFrame(
        rows, "_seq long, UPC string, Quantity string, Wholesale string, Sublocation string"
    )


RULES = {
    "upc": "UPC",
    "qty": ["Quantity", "min"],
    "price": ["Wholesale", "max"],
    "status": ["Sublocation", "addArray"],
}


def test_map_columns_projects_and_stamps(spark):
    out, merge_rules = map_columns(feed(spark), RULES, 9, 2, seq="_seq")
    assert set(out.columns) == {"upc", "qty", "price", "status", "supplier_id", "version", "_seq"}
    assert merge_rules == {"qty": "min", "price": "max", "status": "addArray"}
    row = out.filter(F.col("_seq") == 2).first()
    assert row.qty == 3 and row.price == 7.5 and row.supplier_id == 9 and row.version == 2


def test_map_columns_missing_source_raises(spark):
    with pytest.raises(MissingSourceColumnsError):
        map_columns(feed(spark), {"upc": "NOPE"}, 1, 1)


def test_keyed_merge_rules_and_key_drop(spark):
    mapped, merge_rules = map_columns(feed(spark), RULES, 9, 2, seq="_seq")
    out = keyed_merge(mapped, "upc", merge_rules)
    rows = {r.upc: r for r in out.collect()}
    assert set(rows) == {"42", "77"}          # null/empty keys dropped
    assert rows["42"].qty == 3                # min
    assert rows["42"].price == 7.5            # max
    assert rows["42"].status == ["A", "B", "C"]  # addArray in arrival order
    assert rows["77"].status == ["D"]


def test_keyed_merge_last_write_wins(spark):
    df = spark.createDataFrame(
        [(1, "k", "first", None), (2, "k", None, "x"), (3, "k", "last", None)],
        "_seq long, key string, a string, b string",
    )
    out = keyed_merge(df, "key", {}).first()
    assert out.a == "last"
    assert out.b is None  # LWW takes the value of the LAST row even if null


def test_keyed_merge_rejects_unknown_rule(spark):
    df = spark.createDataFrame([(1, "k", "v")], "_seq long, key string, a string")
    with pytest.raises(ValueError):
        keyed_merge(df, "key", {"a": "bogus"})


def test_enrich_overwrites_and_keeps(spark):
    base = spark.createDataFrame(
        [("42", "old_name", 1), ("77", "keep_me", 2)],
        "upc string, name string, _seq long",
    )
    leg = spark.createDataFrame(
        [("42", "new_name", "extra42", 10), ("99", "discard", "x", 11)],
        "sku string, name string, extra string, _seq long",
    )
    out = enrich(base, leg, "upc", "sku", ["name", "extra"])
    rows = {r.upc: r for r in out.collect()}
    assert rows["42"].name == "new_name"      # leg overwrites
    assert rows["42"].extra == "extra42"      # new column copied
    assert rows["77"].name == "keep_me"       # no match → base survives
    assert rows["77"].extra is None
    assert "99" not in rows                   # leg-only keys discarded


def test_enrich_leg_last_occurrence_wins(spark):
    base = spark.createDataFrame([("42", 1)], "upc string, _seq long")
    leg = spark.createDataFrame(
        [("42", "v1", 10), ("42", "v2", 11)], "sku string, f string, _seq long"
    )
    out = enrich(base, leg, "upc", "sku", ["f"]).first()
    assert out.f == "v2"


def test_with_seq_leg_offsets(spark):
    df = spark.createDataFrame([("a",)], "x string")
    s0 = with_seq(df, leg=0).first()._seq
    s1 = with_seq(df, leg=1).first()._seq
    # leg bits sit ABOVE bit 59 — monotonically_increasing_id's partition
    # bits (partition_id<<33) stay below that until 2^26 partitions
    assert s1 - s0 == 1 << 59
    with pytest.raises(ValueError):
        with_seq(df, leg=16)


def test_enrich_null_leg_value_overwrites_on_match(spark):
    # reference parity: hasField = array_key_exists → a matched leg row
    # overwrites the base value even with NULL (DataSetCollection.php:100-103)
    base = spark.createDataFrame(
        [("42", "base_name", 1), ("77", "keep", 2)],
        "upc string, name string, _seq long",
    )
    leg = spark.createDataFrame(
        [("42", None, 10)], "sku string, name string, _seq long"
    )
    rows = {r.upc: r for r in enrich(base, leg, "upc", "sku", ["name"]).collect()}
    assert rows["42"].name is None       # matched → null overwrites
    assert rows["77"].name == "keep"     # unmatched → base survives


def test_salted_merge_equals_plain(spark, sf_dir):
    """keyed_merge_salted must produce byte-identical results to keyed_merge
    on the flagship feed shape (all four rule kinds + LWW)."""
    from pyspark.sql import functions as F

    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_salted

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.expr("l_orderkey * 8 + l_linenumber").alias("_seq"),
        F.col("l_partkey").cast("string").alias("upc"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("status"),
        F.col("l_linestatus").alias("last_status"),
    )
    rules = {"qty": "min", "price": "max", "status": "addArray"}
    plain = {r.upc: r for r in keyed_merge(li, "upc", rules).collect()}
    salted = {r.upc: r for r in keyed_merge_salted(li, "upc", rules, salt_buckets=7).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        assert tuple(plain[k]) == tuple(salted[k]), k


def test_extended_rules_sum_first_count(spark):
    """sum/first/count generalizations: plain and salted agree, values exact."""
    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_salted

    rows = [
        # (_seq, key, v, w)
        (1, "a", 10, "x"),
        (2, "a", 20, None),
        (3, "a", 5, "z"),
        (4, "b", 7, "q"),
    ]
    df = spark.createDataFrame(rows, "_seq long, k string, v long, w string")
    rules = {"v": "sum", "w": "count"}
    plain = {r.k: (r.v, r.w) for r in keyed_merge(df, "k", rules).collect()}
    assert plain == {"a": (35, 2), "b": (7, 1)}  # count skips nulls
    salted = {
        r.k: (r.v, r.w)
        for r in keyed_merge_salted(df, "k", rules, salt_buckets=3).collect()
    }
    assert salted == plain

    first = {r.k: r.v for r in keyed_merge(df, "k", {"v": "first"}).collect()}
    assert first == {"a": 10, "b": 7}
    first_s = {
        r.k: r.v
        for r in keyed_merge_salted(df, "k", {"v": "first"}, salt_buckets=3).collect()
    }
    assert first_s == first


def test_salted_merge_hot_key(spark):
    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_salted

    rows = [(i, "hot" if i % 10 else "cold", f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "_seq long, key string, val string")
    out = {r.key: r.val for r in keyed_merge_salted(df, "key", {}).collect()}
    assert out["hot"] == "v999"   # last-write-wins across salts
    assert out["cold"] == "v990"


def test_salted_merge_equals_plain_property(spark):
    """Property: for ANY generated feed (dup keys, null/empty keys, ties,
    nulls in values), keyed_merge_salted ≡ keyed_merge under every rule.
    One generated corpus, several salt factors — a cheap exhaustive sweep
    beats per-example Spark jobs under hypothesis."""
    import random

    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_salted

    rng = random.Random(20260813)
    keys = ["", None] + [f"k{i}" for i in range(17)]
    rows = [
        (
            seq,
            rng.choice(keys),
            rng.choice([None, "a", "b", "c", "z"]),
            rng.choice([None] + list(range(10))),
            rng.uniform(0, 9) if rng.random() > 0.2 else None,
            rng.choice(["x", "y", None]),
        )
        for seq in range(1, 400)
    ]
    df = spark.createDataFrame(
        rows, "_seq long, key string, lww string, qty long, price double, st string"
    )
    rules = {"qty": "min", "price": "max", "st": "addArray"}
    plain = {r.key: tuple(r) for r in keyed_merge(df, "key", rules).collect()}
    for buckets in (1, 3, 16):
        salted = {
            r.key: tuple(r)
            for r in keyed_merge_salted(df, "key", rules, salt_buckets=buckets).collect()
        }
        assert salted == plain, f"salt_buckets={buckets}"


# Names that would break or rewrite a Column-DSL or unquoted SQL builder: a
# space, a dot, a backtick, a single quote, a backslash and Cyrillic.
KEY = "ключ No. `k` 'q' \\"
INJECT = "x` , 1 AS `y"


def test_odd_names_stay_names_end_to_end(spark):
    import json

    from pyspark.sql import types as T

    from etl_edi_data_scrapper_spark.sinks import rows_as_json

    src = ["Item No.", "it's `qty`", "price\\eur", "Статус опт"]
    schema = T.StructType([T.StructField("_seq", T.LongType())]
                          + [T.StructField(c, T.StringType()) for c in src])
    feed_df = spark.createDataFrame(
        [(1, "A1", "5", "1,5", "s1"), (2, "A1", "3", "2.5", "s2"), (3, "B2", "7", "0.5", "s3")],
        schema,
    )
    rules = {KEY: "Item No.", "qty": ["it's `qty`", "min"], "price": ["price\\eur", "max"],
             "ст.атус": ["Статус опт", "addArray"], INJECT: "Статус опт"}
    mapped, merge_rules = map_columns(feed_df, rules, 9, 2, seq="_seq")
    assert mapped.columns == [*rules, "supplier_id", "version", "_seq"]
    merged = keyed_merge(mapped, KEY, merge_rules, drop_seq=False)

    leg_key, field = "leg `key`.ü", "о'бъём.\\x"
    leg = spark.createDataFrame([("A1", "big"), ("Z9", "lost")], T.StructType(
        [T.StructField(leg_key, T.StringType()), T.StructField(field, T.StringType())]))
    out = enrich(merged, leg, KEY, leg_key, [field])
    got = {r.key: json.loads(r.value) for r in rows_as_json(out, key_col=KEY).collect()}
    assert got == {
        "A1": {KEY: "A1", "qty": 3, "price": 2.5, "ст.атус": ["s1", "s2"], INJECT: "s2",
               "supplier_id": 9, "version": 2, "_seq": 2, field: "big"},
        "B2": {KEY: "B2", "qty": 7, "price": 0.5, "ст.атус": ["s3"], INJECT: "s3",
               "supplier_id": 9, "version": 2, "_seq": 3},
    }


def test_job_plan_builds_in_few_py4j_round_trips(spark, tmp_path, monkeypatch):
    """Building a six-column CSV job and its publish shape stays a handful
    of parsed expressions, not one py4j round trip per Column node (about
    960 calls before the builders moved to SQL text). Counts only this
    thread's commands: py4j's finalizer thread sends its own."""
    import json
    import threading

    from py4j.clientserver import ClientServerConnection

    from etl_edi_data_scrapper_spark import Engine
    from etl_edi_data_scrapper_spark.sinks import rows_as_json

    p = tmp_path / "feed.csv"
    p.write_text("UPC,ASIN,Quantity,Wholesale,Sublocation,Product Name\n"
                 "1,B01ABCDE12,5,1.5,a,x\n1,B01ABCDE13,3,2.5,b,y\n")
    msg = json.dumps({"supplier_id": 1, "type_id": 2, "source": str(p), "version": 1,
                      "column_map_rules": {
                          "upc": "UPC", "asin": "ASIN", "qty": ["Quantity", "min"],
                          "price": ["Wholesale", "max"], "status": ["Sublocation", "addArray"],
                          "product_name": "Product Name"}})
    engine = Engine(spark)
    rows_as_json(engine.compile(msg))  # first use resolves the JVM classes
    me, calls = threading.get_ident(), []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    out = rows_as_json(engine.compile(msg))
    monkeypatch.undo()
    assert len(calls) <= 120, len(calls)
    assert [json.loads(r.value)["status"] for r in out.collect()] == [["a", "b"]]


def _bulk_job(path):
    return {"supplier_id": 1, "type_id": 2, "source": str(path), "version": 1,
            "column_map_rules": {"upc": "UPC", "qty": ["Quantity", "min"],
                                 "price": ["Wholesale", "max"], "status": "Status"}}


def test_single_source_cleans_the_key_once(spark, tmp_path):
    """The keyed merge's key filter reads the mapper's cleaned ``upc``: with
    ``_seq`` born in the mapper projection, Catalyst cannot push the filter
    below it and substitute the cleaning expression (which ran the key's
    regex three times per row). The price cleaner is one regex, no extract."""
    from etl_edi_data_scrapper_spark import Engine

    p = tmp_path / "feed.csv"
    p.write_text("UPC,Quantity,Wholesale,Status\n1-2,5,\"1,5\",a\n1 2,3,2.5,b\n,7,9,c\n")
    df = Engine(spark).compile(_bulk_job(p))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("substring(regexp_replace(") == 1, plan
    assert plan.count("regexp_replace(") == 3, plan  # upc, qty, price
    assert "regexp_extract(" not in plan, plan
    assert {(r.upc, r.qty, r.price, r.status) for r in df.collect()} == {("12", 3, 2.5, "b")}


def test_multi_source_cleans_the_key_once(spark, tmp_path):
    """A multi-source job's key filter reads the mapper's cleaned ``upc``
    too: the ``spark_partition_id()`` term of its ``_seq`` stops Catalyst
    pushing the filter through the mapper, the enrich join and the base
    re-key, where it cleaned the key twice per base row and once per leg
    row. A key that cleans to '' is still dropped."""
    from etl_edi_data_scrapper_spark import Engine

    base = tmp_path / "base.csv"
    base.write_text("sku,Quantity\n1-2,5\n12,3\n--,7\n9,1\n")
    leg = tmp_path / "leg.csv"
    leg.write_text("ref,Brand\n12,acme\n--,none\n")
    job = {"supplier_id": 1, "version": 1, "type_id": None,
           "source": [{"type_id": 2, "filename": str(base), "key": "sku",
                       "fields": ["sku", "Quantity"]},
                      {"type_id": 2, "filename": str(leg), "key": "ref", "fields": ["Brand"]}],
           "column_map_rules": {"upc": "sku", "qty": ["Quantity", "min"], "brand": "Brand"}}
    df = Engine(spark).compile(job)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("substring(regexp_replace(") == 1, plan
    assert {(r.upc, r.qty, r.brand) for r in df.collect()} == {("12", 3, "acme"), ("9", 1, None)}


def test_with_seq_leg_guard_runs_in_plan(spark):
    """A non-zero leg's guard is part of the projection: a seq that would
    reach the leg bits raises when executed, and the default seq's two
    references in the guard stay in lockstep on every row."""
    df = spark.range(0, 600, numPartitions=3)
    both = with_seq(with_seq(df, leg=0).withColumnRenamed("_seq", "s0"), leg=1)
    assert both.filter(f"_seq - s0 != {1 << 59}").count() == 0
    assert "*(" in both._jdf.queryExecution().executedPlan().toString()  # codegen'd
    below = with_seq(df, leg=1, seq_expr=str((1 << 59) - 1)).first()._seq
    assert below == (1 << 60) - 1
    with pytest.raises(Exception, match="leg bits"):
        with_seq(df, leg=1, seq_expr=str(1 << 59)).collect()


def test_csv_split_across_cores_keeps_file_order(spark, tmp_path):
    """A mid-size CSV reads as several splits under the session defaults,
    and the default ``_seq`` keeps file order across them: the key's latest
    row in the file wins. A file of at most 1 MiB stays one partition."""
    from etl_edi_data_scrapper_spark import Engine
    from etl_edi_data_scrapper_spark.sources.files import read_csv

    filler = "".join(f"{100000 + i},1,1.0,{'x' * 40}\n" for i in range(22000))
    head = "UPC,Quantity,Wholesale,Status\n"
    big = tmp_path / "big.csv"
    big.write_text(head + "".join(f"7,1,1.0,{s}\n{filler}" for s in ("a", "b", "c"))
                   + "7,1,1.0,last\n")
    assert big.stat().st_size > 3 << 20
    assert read_csv(spark, str(big)).rdd.getNumPartitions() >= 3
    rows = Engine(spark).compile(_bulk_job(big)).filter("upc = '7'").collect()
    assert [r.status for r in rows] == ["last"]

    small = tmp_path / "small.csv"
    small.write_text(head + filler[: (1 << 20) - len(head) - 100])
    assert small.stat().st_size <= 1 << 20
    assert read_csv(spark, str(small)).rdd.getNumPartitions() == 1
