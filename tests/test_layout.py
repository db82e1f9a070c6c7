"""Layout operators and audits: the shard manifest's checksum, the
z-order layout audit and the rendezvous rebalance audit."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# --- deterministic sharded export -------------------------------------------


def test_shard_manifest_checksum_detects_any_row_change(spark, sf_dir):
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators.layout import shard_manifest
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    full = {r["shard"]: r["content_xor"] for r in
            shard_manifest(docs, "doc_id", 8).collect()}
    # drop one known row; only its shard's checksum may change, and must
    victim = docs.select("doc_id").orderBy("doc_id").first()["doc_id"]
    tampered = {r["shard"]: r["content_xor"] for r in
                shard_manifest(docs.filter(F.col("doc_id") != victim),
                               "doc_id", 8).collect()}
    diffs = [s for s in full if tampered.get(s) != full[s]]
    assert len(diffs) == 1


# --- X81 oracled audit form: q_zorder_layout --------------------------------


def test_zorder_layout_audit_semantics(spark, sf_dir):
    """The layout decision the audit certifies: for a 2-D box predicate,
    the z-ordered assignment scans strictly fewer files than the linear
    one, the z-ordered scan's row count collapses toward the true match
    count, and both layouts agree on rows_matched (the layout can never
    change the ANSWER, only the scan)."""
    from mysql_cdc_to_http_spark.queries.layout import q_zorder_layout

    rows = {r["layout"]: r for r in q_zorder_layout(spark, sf_dir).collect()}
    lin, z = rows["linear"], rows["zorder"]
    assert lin["rows_matched"] == z["rows_matched"] > 0
    assert z["files_scanned"] < lin["files_scanned"]
    # linear files each span the full (pk, sk) domain: nothing skips
    assert lin["files_scanned"] == lin["files_total"]
    # the box covers bucket quadrant [64,128)^2 == one 4-bit z prefix:
    # the z layout confines it to ONE file, so the scan is exact
    assert z["files_scanned"] == 1
    assert z["rows_scanned"] == z["rows_matched"]
    assert z["scan_ratio_micro"] < lin["scan_ratio_micro"] // 4


def test_zorder_layout_audit_plan_shape(spark, sf_dir):
    """One fact scan feeds both layouts (the explode stack, not two
    scans), the singleton max aggregate is broadcast (no shuffled join
    against the fact), and nothing sorts until the 2-row output."""
    from mysql_cdc_to_http_spark.queries.layout import q_zorder_layout

    plan = _plan(q_zorder_layout(spark, sf_dir))
    # fact scan + 1-row max-agg scan (AQE's formatted output prints each
    # scan in both the adaptive and final plan sections, hence <= 4)
    assert plan.count("Scan parquet") <= 4
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# --- X227: rendezvous sharding rebalance audit -------------------------------


def test_rendezvous_resize_moves_minimum(spark, sf_dir):
    """The policy contract: on a 16→20 resize, rendezvous moves ~4/20 of
    keys (only those whose argmax lands on a new shard — the stateless
    minimum) while mod-N moves ~4/5 (only h%80 < 16 of hash space keeps
    its shard). Both schemes place every key and stay reasonably
    balanced."""
    from mysql_cdc_to_http_spark.queries.layout import q_rendezvous_shards

    rows = {
        r["scheme"]: r for r in q_rendezvous_shards(spark, sf_dir).collect()
    }
    mod, rdv = rows["mod"], rows["rendezvous"]
    assert mod["rows_total"] == rdv["rows_total"] > 0
    # theory 800000 vs 200000 micro; generous bands for small-sf noise
    assert mod["moved_ratio_micro"] > 700_000
    assert rdv["moved_ratio_micro"] < 300_000
    assert rdv["rows_moved"] * 3 < mod["rows_moved"]
    # all 20 new shards used; heaviest shard within 2x of even
    assert mod["shards_used"] == rdv["shards_used"] == 20
    assert rdv["max_load_micro"] < 2_000_000
    assert mod["max_load_micro"] < 2_000_000


def test_rendezvous_assignment_is_projection(spark, sf_dir):
    """Scale contract: shard assignment shuffles NOTHING — the only
    exchanges feed the (scheme × shard) load aggregate and the 2-row
    rollup. No join of any kind appears in the plan."""
    from mysql_cdc_to_http_spark.queries.layout import q_rendezvous_shards

    plan = _plan(q_rendezvous_shards(spark, sf_dir))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
