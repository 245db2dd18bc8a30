"""DynamicFrame operator-façade tests (SURVEY.md §2.2, §2.3, §2.7, §2.9)."""

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from aws_etl_bank_spark import gluetypes as gt
from aws_etl_bank_spark.operators.dynamicframe import (
    DynamicFrame,
    DynamicFrameCollection,
    ResolveOption,
)


@pytest.fixture()
def people(spark):
    df = spark.createDataFrame(
        [
            (1, "alice", 34, ("hanoi", "vn")),
            (2, "bob", 7, ("hcmc", "vn")),
            (3, "carol", 15, ("hue", "vn")),
        ],
        "id long, name string, age long, addr struct<city:string, country:string>",
    )
    return DynamicFrame.fromDF(df, name="people")


def test_apply_mapping_tuple_forms(people):
    out = people.apply_mapping([
        ("id", "pid"),                       # 2-tuple: rename only
        ("age", "age_str", "string"),        # 3-tuple: rename + cast
        ("name", "string", "who", "string"),  # 4-tuple
    ])
    assert out.toDF().columns == ["pid", "age_str", "who"]
    assert dict(out.toDF().dtypes)["age_str"] == "string"


def test_apply_mapping_case_insensitive_default(people):
    out = people.apply_mapping([("ID", "pid"), ("NAME", "n")])
    assert out.toDF().columns == ["pid", "n"]


def test_select_fields_nested_path(people):
    out = people.select_fields(["id", "addr.city"])
    assert out.toDF().columns == ["id", "addr.city"]
    assert out.toDF().filter(F.col("`addr.city`") == "hanoi").count() == 1


def test_drop_fields_nested(people):
    out = people.drop_fields(["age", "addr.country"])
    cols = out.toDF().columns
    assert "age" not in cols
    assert out.toDF().schema["addr"].dataType.fieldNames() == ["city"]


def test_rename_field_top_and_nested(people):
    out = people.rename_field("name", "full_name")
    assert "full_name" in out.toDF().columns
    nested = people.rename_field("addr.city", "addr.town")
    assert set(nested.toDF().schema["addr"].dataType.fieldNames()) == {"country", "town"}


def test_rename_field_depth_three_stays_in_parent(spark):
    df = spark.createDataFrame(
        [(1, ((1.0, "hn"),))],
        "id long, a struct<b:struct<lat:double, city:string>>",
    )
    out = DynamicFrame.fromDF(df, name="deep").rename_field("a.b.city", "a.b.town")
    schema = out.toDF().schema
    b_fields = set(schema["a"].dataType["b"].dataType.fieldNames())
    assert b_fields == {"lat", "town"}
    assert set(schema["a"].dataType.fieldNames()) == {"b"}
    assert out.toDF().collect()[0]["a"]["b"]["town"] == "hn"


def test_split_rows(people):
    coll = people.split_rows({"age": {">": 10, "<": 20}}, "young", "rest")
    assert isinstance(coll, DynamicFrameCollection)
    assert [r["id"] for r in coll["young"].toDF().collect()] == [3]
    assert coll["rest"].count() == 2


def test_split_rows_null_goes_to_rest(spark):
    df = spark.createDataFrame(
        [(1, 15), (2, None), (3, 50)], "id long, age long"
    )
    coll = DynamicFrame.fromDF(df, name="n").split_rows(
        {"age": {">": 10, "<": 20}}, "young", "rest"
    )
    # NULL comparison must not lose the row: it belongs to rest
    assert [r["id"] for r in coll["young"].toDF().collect()] == [1]
    assert sorted(r["id"] for r in coll["rest"].toDF().collect()) == [2, 3]
    assert coll["young"].count() + coll["rest"].count() == 3


def test_split_fields(people):
    coll = people.split_fields(["id", "name"], "left", "right")
    assert coll["left"].toDF().columns == ["id", "name"]
    assert coll["right"].toDF().columns == ["age", "addr"]


def test_join_zipped_keys_and_collision_rename(spark, people):
    other = DynamicFrame.fromDF(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string"), name="o"
    )
    out = people.join(["id"], ["id"], other)
    assert out.count() == 2
    assert "id_2" in out.toDF().columns and "name_2" in out.toDF().columns


def test_union_schema_drift_null_fills(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, "a")], "id long, x string"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, True)], "id long, y boolean"))
    out = a.union(b)
    rows = {r["id"]: r for r in out.toDF().collect()}
    assert rows[1]["y"] is None and rows[2]["x"] is None


def test_union_type_conflict_makes_choice_struct(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, 10)], "id long, v long"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, "ten")], "id long, v string"))
    out = a.union(b)
    schema = out.schema()
    assert isinstance(schema.getField("v").dataType, gt.ChoiceType)
    # physical encoding: struct with one non-null variant per row
    spark_field = out.toDF().schema["v"].dataType
    assert isinstance(spark_field, T.StructType)
    resolved = out.resolveChoice([("v", "cast:string")]).toDF()
    vals = {r["id"]: r["v"] for r in resolved.collect()}
    assert vals == {1: "10", 2: "ten"}


def test_filter_keeps_choice_types(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, 10)], "id long, v long"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, "ten")], "id long, v string"))
    kept = a.union(b).filter(lambda r: True)
    assert isinstance(kept.schema().getField("v").dataType, gt.ChoiceType)
    resolved = kept.resolveChoice([("v", "cast:string")]).toDF()
    assert {r["id"]: r["v"] for r in resolved.collect()} == {1: "10", 2: "ten"}


def test_map_partitions_with_and_without_index(people):
    frame = DynamicFrame.fromDF(people.toDF().select("id", "name").repartition(2, "id"))

    def tag(idx, recs):
        for r in recs:
            r["name"] = f"{idx}:{r['name']}"
            yield r

    tagged = {r["id"]: r["name"] for r in frame.mapPartitionsWithIndex(tag).toDF().collect()}
    owner = {r["id"]: r["p"] for r in frame.toDF().select("id", F.spark_partition_id().alias("p")).collect()}
    assert tagged == {i: f"{owner[i]}:{n}" for i, n in [(1, "alice"), (2, "bob"), (3, "carol")]}

    upper = frame.mapPartitions(lambda recs: ({**r, "name": r["name"].upper()} for r in recs))
    assert sorted(r["name"] for r in upper.toDF().collect()) == ["ALICE", "BOB", "CAROL"]


def test_resolve_choice_actions(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, 10)], "id long, v long"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, "ten")], "id long, v string"))
    merged = a.union(b)

    projected = merged.resolveChoice([("v", "project:long")]).toDF()
    vals = {r["id"]: r["v"] for r in projected.collect()}
    assert vals == {1: 10, 2: None}

    cols = merged.resolveChoice([("v", "make_cols")]).toDF()
    assert {"v_long", "v_string"} <= set(cols.columns) and "v" not in cols.columns

    struct = merged.resolveChoice([("v", "make_struct")]).toDF()
    assert isinstance(struct.schema["v"].dataType, T.StructType)


def test_resolve_choice_framewide_default(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, 10)], "id long, v long"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, "ten")], "id long, v string"))
    out = a.union(b).resolveChoice(choice="cast:string").toDF()
    assert dict(out.dtypes)["v"] == "string"


def test_todf_resolve_options(spark):
    a = DynamicFrame.fromDF(spark.createDataFrame([(1, 10)], "id long, v long"))
    b = DynamicFrame.fromDF(spark.createDataFrame([(2, "ten")], "id long, v string"))
    df = a.union(b).toDF([ResolveOption("v", "Cast", gt.StringType())])
    assert dict(df.dtypes)["v"] == "string"


def test_merge_dynamic_frame_upsert_keeps_duplicates(spark):
    source = DynamicFrame.fromDF(spark.createDataFrame(
        [(1, "old"), (1, "old_dup"), (2, "keep"), (2, "keep_dup")],
        "pk long, v string"))
    stage = DynamicFrame.fromDF(spark.createDataFrame([(1, "new")], "pk long, v string"))
    out = source.mergeDynamicFrame(stage, ["pk"]).toDF()
    rows = sorted((r["pk"], r["v"]) for r in out.collect())
    # pk=1 rows replaced by single staging row; pk=2 duplicates retained
    assert rows == [(1, "new"), (2, "keep"), (2, "keep_dup")]


def test_unnest_flattens_structs(people):
    out = people.unnest()
    assert set(out.toDF().columns) == {"id", "name", "age", "addr.city", "addr.country"}


def test_unnest_ddb_json(spark):
    df = spark.createDataFrame(
        [((("v1",), ("3",)),)],
        "item struct<a:struct<S:string>, b:struct<N:string>>",
    )
    out = DynamicFrame.fromDF(df).unnest_ddb_json().toDF()
    row = out.collect()[0]["item"]
    assert row["a"] == "v1" and row["b"] == 3.0


def test_unbox_json(spark):
    df = spark.createDataFrame([(1, '{"a": 5, "b": "x"}')], "id long, payload string")
    out = DynamicFrame.fromDF(df).unbox("payload", "json").toDF()
    row = out.collect()[0]["payload"]
    assert row["a"] == 5 and row["b"] == "x"


def test_unbox_csv_with_separator(spark):
    df = spark.createDataFrame([(1, "x|7")], "id long, payload string")
    out = DynamicFrame.fromDF(df).unbox("payload", "csv", separator="|").toDF()
    row = out.collect()[0]["payload"]
    assert row["col0"] == "x" and row["col1"] == "7"


def test_unbox_avro_decodes_via_fallback(spark):
    """avro unbox must WORK even without the spark-avro jar (r9): the
    JVM from_avro path is preferred when the package is present, and
    the in-repo pure-Python datum decoder (sources/avro.py) takes over
    otherwise — same jsonFormatSchema contract either way.  Schema is
    always required."""
    import json

    from aws_etl_bank_spark.sources.avro import encode_datum

    df = spark.createDataFrame([(1, "x")], "id long, payload string")
    with pytest.raises(ValueError, match="jsonFormatSchema"):
        DynamicFrame.fromDF(df).unbox("payload", "avro")

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    rows = []
    for i in range(5):
        buf = bytearray()
        encode_datum(buf, {"a": i, "b": f"v{i}"}, schema)
        rows.append((i, bytearray(buf)))
    binned = spark.createDataFrame(rows, "id long, payload binary")
    out = DynamicFrame.fromDF(binned).unbox(
        "payload", "avro", schema=json.dumps(schema)).toDF()
    got = sorted((r["id"], r["payload"]["a"], r["payload"]["b"])
                 for r in out.collect())
    assert got == [(i, i, f"v{i}") for i in range(5)]


def test_relationalize_deterministic_keys(spark):
    df = spark.createDataFrame(
        [(1, [10, 20]), (2, [30])], "id long, xs array<long>")
    coll = DynamicFrame.fromDF(df).relationalize("root", key_cols=["id"])
    root = coll.select("root").toDF()
    child = coll.select("root_xs").toDF()
    assert root.columns == ["id"]
    rows = sorted((r["id"], r["index"], r["val"]) for r in child.collect())
    assert rows == [(1, 0, 10), (1, 1, 20), (2, 0, 30)]


def test_collection_select_missing_key_is_empty(spark, people):
    coll = people.split_fields(["id"], "a", "b")
    missing = coll.select("nope")
    assert missing.count() == 0


def test_collection_map_and_flatmap(people):
    coll = people.split_fields(["id"], "a", "b")
    mapped = coll.map(lambda frame, ctx: frame)
    assert set(mapped.keys()) == {"a", "b"}
    flat = coll.flatmap(lambda frame: frame)
    assert len(flat) == 2


def test_partitioning_ops(people):
    assert people.repartition(4).getNumPartitions() == 4
    assert people.repartition(4).coalesce(2).getNumPartitions() == 2
    assert people.coalesce(2, shuffle=True).getNumPartitions() == 2


def test_spigot_passthrough(people, scratch):
    out = people.spigot(f"{scratch}/spigot", {"topk": 2})
    assert out.count() == 3  # passthrough unchanged
    sampled = people.spark.read.json(f"{scratch}/spigot")
    assert sampled.count() == 2
