"""Golden tests for reference CDC semantics (SURVEY §5.2 #2, FIXTURES §2-3):
coercion matrix branches, update pairing + dangling-row drop, delete-drop
compat vs correct mode, base64 heuristic edge cases, dead-letter extraction.
"""

from __future__ import annotations

import re
import sys

import pytest

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.operators import coercion
from mysql_cdc_to_http_spark.operators.envelope import (
    action_filter,
    extract_table_name,
)
from mysql_cdc_to_http_spark.operators.pairing import pair_updates
from mysql_cdc_to_http_spark.operators.routing import invert_groups, load_groups


def one(spark, value, fn):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(fn(F.col("v")).alias("r")).collect()[0].r


def test_base64_matrix(spark):
    # FIXTURES §3: valid base64 silently decoded, plain text passes through
    assert one(spark, "aGVsbG8=", coercion.decode_base64_text) == "hello"
    assert one(spark, "hello", coercion.decode_base64_text) == "hello"
    assert one(spark, "Customer#1", coercion.decode_base64_text) == "Customer#1"
    # unpadded → invalid under Go's std encoding → passthrough
    assert one(spark, "aGVsbG8", coercion.decode_base64_text) == "aGVsbG8"
    # non-canonical padding bits: Java throws in unbase64; engine must not
    assert one(spark, "QQVVTT==", coercion.decode_base64_text) in ("QQVVTT==", "A\x05UM")
    # correct mode keeps a false-positive that decodes to invalid UTF-8
    assert one(spark, "AUTO", coercion.decode_base64_text) == "AUTO"
    # compat mode reproduces the lossy reference heuristic on valid UTF-8
    assert (
        one(spark, "cGFydA==", lambda c: coercion.decode_base64_text(c, compat=True))
        == "part"
    )


def test_date_rfc3339_matrix(spark):
    assert one(spark, "2024-05-01", coercion.date_to_rfc3339) == "2024-05-01T00:00:00Z"
    assert one(spark, "not-a-date", coercion.date_to_rfc3339) == "not-a-date"
    # malformed-but-shaped date (month 13) → parse failure → passthrough
    assert one(spark, "2024-13-01", coercion.date_to_rfc3339) == "2024-13-01"


def test_bool_matrix(spark):
    rows = spark.createDataFrame(
        [(1,), (0,), (2,)], "v int"
    ).select(coercion.tinyint_bool(F.col("v")).alias("b")).collect()
    assert [r.b for r in rows] == [True, False, False]  # main.go:157-164
    assert one(spark, "true", coercion.tinyint_bool) is True
    assert one(spark, "false", coercion.tinyint_bool) is False
    bits = spark.createDataFrame(
        [(b"\x01",), (b"\x00",), (b"\x00\x05",)], "v binary"
    ).select(coercion.bit_bool(F.col("v"), binary=True).alias("b")).collect()
    # reference checks only the FIRST byte of the bit bytes (main.go:170-176)
    assert [r.b for r in bits] == [True, False, False]
    ints = spark.createDataFrame([(1,), (0,)], "v int").select(
        coercion.bit_bool(F.col("v")).alias("b")
    ).collect()
    assert [r.b for r in ints] == [True, False]


def test_update_pairing_dangling_drop(spark):
    # update = rows (img 0, img 1); key 20 has a dangling before-image
    rows = [
        ("t", 10, 0, 0, 100.0),
        ("t", 10, 1, 1, 110.0),
        ("t", 20, 2, 0, 200.0),  # dangling — dropped (main.go:71-73)
        ("t", 30, 3, 0, 300.0),
        ("t", 30, 4, 1, 330.0),
    ]
    df = spark.createDataFrame(
        rows, "tbl string, pk long, seq long, img int, price double"
    )
    out = pair_updates(df, ["tbl", "pk"], "seq", "img", ["price"]).collect()
    got = {(r.pk): (r.before_price, r.after_price) for r in out}
    assert got == {10: (100.0, 110.0), 30: (300.0, 330.0)}


def test_delete_drop_compat_vs_correct(spark):
    df = spark.createDataFrame(
        [("c", 1), ("u", 2), ("d", 3), ("x", 4)], "op string, k int"
    )
    # reference mode: deletes & unknown actions dropped (main.go:58-60)
    assert {r.op for r in action_filter(df).collect()} == {"c", "u"}
    # correct mode keeps deletes
    assert {r.op for r in action_filter(df, keep=("c", "u", "d")).collect()} == {
        "c",
        "u",
        "d",
    }


def test_extract_table_dead_letter(spark):
    df = spark.createDataFrame(
        [('{"source": {"table": "orders"}}',), ('{"op": "c"}',), ("not json",)],
        "v string",
    )
    got = [r.t for r in df.select(extract_table_name(F.col("v")).alias("t")).collect()]
    # reference panics on the 2nd/3rd (main.go:428-429); engine dead-letters
    assert got == ["orders", "unknown_table", "unknown_table"]


def test_group_collision_last_wins():
    # main.go:325-329: same table in two groups → last wins
    groups = {"g1": ["t1", "t2"], "g2": ["t1"]}
    assert invert_groups(groups)["t1"] == "g2"


#: malformed TABLE_GROUPS_FILE text → what the ValueError must name
#: besides the file
BAD_GROUP_FILES = {
    # a scalar is not split into one table per character
    "scalar_group": ("grp_sales: orders\n", "'grp_sales'"),
    "mapping_group": ("grp_sales: {orders: 1}\n", "'grp_sales'"),
    "null_table": ("grp_sales: [orders, ~]\n", "'grp_sales'"),
    "top_level_list": ("- orders\n- lineitem\n", "mapping"),
    # no silent fall-back to DEFAULT_GROUPS
    "no_pyyaml": ("grp_sales: [orders]\n", "pyyaml"),
}


@pytest.mark.parametrize("case", sorted(BAD_GROUP_FILES))
def test_load_groups_rejects_malformed_file(tmp_path, monkeypatch, case):
    text, names = BAD_GROUP_FILES[case]
    path = tmp_path / "table_groups.yaml"
    path.write_text(text)
    if case == "no_pyyaml":
        monkeypatch.setitem(sys.modules, "yaml", None)
    with pytest.raises(ValueError, match=re.escape(names)) as err:
        load_groups(str(path))
    assert str(path) in str(err.value)


def test_load_groups_null_group_and_empty_file(tmp_path):
    path = tmp_path / "table_groups.yaml"
    path.write_text("grp_sales: [orders]\ngrp_parties:\n")
    assert load_groups(str(path)) == {"grp_sales": ["orders"], "grp_parties": []}
    path.write_text("")
    assert load_groups(str(path)) == {}


#: (TABLE_GROUPS_FILE text or None for no file, table → expected group;
#: tables absent from the expectation must be dropped)
ROUTING_CASES = {
    # main.go:325-329: t1 sits in two groups, the last one wins
    "collision_last_wins": ("g1: [t1, t2]\ng2: [t1]\n", {"t1": "g2", "t2": "g1"}),
    # unrouted tables (t3, orders) and a null source.table are dropped
    "unrouted_and_null_dropped": ("g1: [t2]\n", {"t2": "g1"}),
    # an empty config routes nothing, and must still analyse
    "empty_config": ("", {}),
    "empty_mapping": ("{}\n", {}),
    # no file: DEFAULT_GROUPS
    "default_groups": (None, {"orders": "grp_sales"}),
}


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("case", sorted(ROUTING_CASES))
def test_delivery_frame_routing(spark, tmp_path, monkeypatch, case, ansi):
    """Routing through the shipped path: TABLE_GROUPS_FILE → EngineConfig
    → load_groups → build_delivery_frame, with ANSI off and on."""
    from mysql_cdc_to_http_spark.config import EngineConfig
    from mysql_cdc_to_http_spark.engine import build_delivery_frame
    from mysql_cdc_to_http_spark.operators.routing import load_groups
    from mysql_cdc_to_http_spark.sources.cdc import ENVELOPE_SCHEMA

    text, expected = ROUTING_CASES[case]
    if text is None:
        monkeypatch.delenv("TABLE_GROUPS_FILE", raising=False)
    else:
        path = tmp_path / "table_groups.yaml"
        path.write_text(text)
        monkeypatch.setenv("TABLE_GROUPS_FILE", str(path))
    groups = load_groups(EngineConfig().table_groups_file)
    tables = ["t1", "t2", "t3", "orders", None]
    changes = spark.createDataFrame(
        [
            {"source": {"table": t}, "op": "c", "offset": i, "ts_ms": 0}
            for i, t in enumerate(tables)
        ],
        ENVELOPE_SCHEMA,
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = {
            r.t: r.grp
            for r in build_delivery_frame(changes, groups)
            .select(F.get_json_object("payload", "$.source.table").alias("t"), "grp")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == expected


# ---------------------------------------------------------------------------
# snapshot_diff (operators/diff.py) — reverse CDC
# ---------------------------------------------------------------------------
def test_snapshot_diff_null_safe_semantics(spark):
    from mysql_cdc_to_http_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d"), (5, None)],
        ["k", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "D"), (6, "f")],
        ["k", "v"],
    )
    got = {
        r.k: (r.action, r.old_v, r.new_v)
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    # 1 unchanged, 2 NULL==NULL unchanged — neither emitted
    assert 1 not in got and 2 not in got
    assert got[3] == ("update", "c", None)  # value -> NULL is an update
    assert got[4] == ("update", "d", "D")
    assert got[5] == ("delete", None, None)
    assert got[6] == ("insert", None, "f")
    assert set(got) == {3, 4, 5, 6}


def test_snapshot_diff_composite_key_and_validation(spark):
    import pytest

    from mysql_cdc_to_http_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, 1, 10.0), (1, 2, 20.0)], ["a", "b", "v"])
    new = spark.createDataFrame([(1, 1, 10.0), (1, 3, 30.0)], ["a", "b", "v"])
    got = {
        (r.a, r.b): r.action
        for r in snapshot_diff(old, new, ["a", "b"], ["v"]).collect()
    }
    assert got == {(1, 2): "delete", (1, 3): "insert"}
    with pytest.raises(ValueError):
        snapshot_diff(old, new, [], ["v"])
    with pytest.raises(ValueError):
        snapshot_diff(old, new, ["a"], [])


def test_apply_diff_round_trips(spark, sf_dir):
    """apply_diff(old, snapshot_diff(old, new)) == new, exactly — the
    reconciliation property that makes the diff format usable as a
    change feed."""
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators.diff import apply_diff, snapshot_diff
    from mysql_cdc_to_http_spark.queries.cdc import _diff_snapshots

    old, new = _diff_snapshots(spark, sf_dir)
    keys = ["o_orderkey"]
    comps = ["o_orderstatus", "o_totalprice"]
    changes = snapshot_diff(old, new, keys, comps)
    rebuilt = apply_diff(old, changes, keys, comps)
    # exact multiset equality both directions
    assert rebuilt.count() == new.count()
    assert rebuilt.exceptAll(new.select(*keys, *comps)).count() == 0
    assert new.select(*keys, *comps).exceptAll(rebuilt).count() == 0


def test_apply_diff_broadcast_anti_join(spark, sf_dir):
    from mysql_cdc_to_http_spark.operators.diff import apply_diff, snapshot_diff
    from mysql_cdc_to_http_spark.queries.cdc import _diff_snapshots

    old, new = _diff_snapshots(spark, sf_dir)
    keys, comps = ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    rebuilt = apply_diff(old, snapshot_diff(old, new, keys, comps), keys, comps)
    plan = rebuilt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_maintain_joined_view_equals_full_recompute(spark, sf_dir):
    """IVM identity: the incrementally-maintained view must equal the
    from-scratch join of the new snapshots, row-exactly, under churn on
    BOTH sides (fact deletes/updates, dim updates/deletes)."""
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators.diff import maintain_joined_view
    from mysql_cdc_to_http_spark.queries.cdc import _cust_churn

    o_old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c_old = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o_new = o_old.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.5)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    c_new = _cust_churn(c_old)
    c_old_j = c_old.select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    c_new_j = c_new.select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j_old = o_old.join(c_old_j, "o_custkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "c_mktsegment",
    )
    da = o_old.select("o_orderkey").filter(
        (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 11 == 0)
    )
    db = c_old.select("c_custkey").filter(
        (F.col("c_custkey") % 131 == 0) | (F.col("c_custkey") % 13 == 0)
    ).select(F.col("c_custkey").alias("o_custkey"))
    j_inc = maintain_joined_view(
        j_old, o_new, c_new_j, da, db, "o_orderkey", "o_custkey"
    )
    j_full = o_new.join(c_new_j, "o_custkey").select(*j_inc.columns)
    assert j_inc.count() == j_full.count() > 0
    assert j_inc.exceptAll(j_full).count() == 0
    assert j_full.exceptAll(j_inc).count() == 0
    # the maintenance plan must be broadcast-shaped: no shuffle of the
    # kept view for the subtraction
    plan = j_inc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3  # 2 anti + semi sides


def test_python_datasource_partitions_per_file(spark, sf_dir):
    """X209: the custom connector plans ONE input partition per feed
    file (Spark schedules file-parallel like its native sources), and
    every file/line arrives exactly once."""
    import os

    from mysql_cdc_to_http_spark.sources import pyds
    from mysql_cdc_to_http_spark.sources.cdc import write_event_files
    from pyspark.sql import functions as F

    events_dir = write_event_files(spark, sf_dir, n_files=8)
    pyds.register(spark)
    df = (
        spark.read.format("graft_cdc")
        .option("path", os.path.join(events_dir, "data"))
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    per_file = {
        r.file_no: r.n
        for r in df.groupBy("file_no")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_file) == set(range(8))
    # total lines == total feed rows (read the dir directly as text)
    n_text = spark.read.text(os.path.join(events_dir, "data")).count()
    assert sum(per_file.values()) == n_text
    # line numbers within a file are dense from 0
    mx = df.groupBy("file_no").agg(
        F.max("line_no").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    assert all(r.mx == r.n - 1 for r in mx.collect())


def test_sample_maintenance_identity(spark, sf_dir):
    """X235: the incrementally maintained md5 sample must equal the
    from-scratch sample of the post-churn snapshot ROW-EXACTLY, and the
    incremental path must touch only the sample's slice of the diff
    (change-sized, not base-sized)."""
    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.operators.diff import (
        apply_diff,
        snapshot_diff,
    )
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket
    from mysql_cdc_to_http_spark.queries.cdc import _diff_snapshots

    old, new = _diff_snapshots(spark, sf_dir)
    member = split_bucket(F.col("o_orderkey"), 100, salt="smv-v1") < 20
    changes = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    maintained = apply_diff(
        old.filter(member),
        changes.filter(member),
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice"],
    )
    got = {
        (r["o_orderkey"], r["o_orderstatus"], float(r["o_totalprice"]))
        for r in maintained.collect()
    }
    want = {
        (r["o_orderkey"], r["o_orderstatus"], float(r["o_totalprice"]))
        for r in new.filter(member).collect()
    }
    assert got == want and got  # row-exact identity, non-empty
    # delta-sized: the applied change slice is ~20% of the full diff
    n_changes = changes.count()
    n_slice = changes.filter(member).count()
    assert 0 < n_slice < 0.3 * n_changes
