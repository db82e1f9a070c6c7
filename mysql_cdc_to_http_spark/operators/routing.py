"""Table-group routing — the reference's YAML group config inverted into a
table→group map (``main.go:28-29, 308-332``), re-expressed as one column
expression: a literal ``map<table, group>`` looked up per row. The config
is small and fixed for a query's lifetime, so the lookup runs inside the
scan's projection: no join, no broadcast job, no shuffle.

The reference keys groups by bare table name, so identically-named tables
in different databases collide (last YAML group wins, main.go:325-329).
The engine keys by the full table identifier; callers that want reference
compat can pass bare names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Default groups, mirroring config/table_groups.example.yaml shape against
#: the testdata star schema (FIXTURES.md §4).
DEFAULT_GROUPS: dict[str, list[str]] = {
    "grp_sales": ["orders", "lineitem"],
    "grp_parties": ["customer", "supplier"],
}


def load_groups(path: str | None = None) -> dict[str, list[str]]:
    """Load the group→tables YAML config (the reference's loadTableGroups,
    main.go:313-332); no path means DEFAULT_GROUPS. An empty file is an
    empty config and a null group has no tables: both route nothing.

    A config that is not a mapping of group → list of table names (quote
    a numeric name) raises ``ValueError`` naming the file and the group,
    as does a file given without pyyaml installed: a config the engine
    cannot read must stop it, never route tables it does not name."""
    if path is None:
        return dict(DEFAULT_GROUPS)
    try:
        import yaml
    except ImportError as exc:
        raise ValueError(f"{path}: reading TABLE_GROUPS_FILE needs pyyaml") from exc
    with open(path) as fh:
        raw = yaml.safe_load(fh)
    if raw is None:
        return {}
    if not isinstance(raw, dict):
        raise ValueError(f"{path}: expected a mapping of group to tables")
    groups = {}
    for g, ts in raw.items():
        ts = [] if ts is None else ts
        if not isinstance(ts, list) or not all(isinstance(t, str) for t in ts):
            raise ValueError(f"{path}: group {g!r} must be a list of table names")
        groups[str(g)] = ts
    return groups


def invert_groups(groups: dict[str, list[str]]) -> dict[str, str]:
    """group→tables inverted to table→group; on collision the last group
    wins (reference iteration-order semantics, main.go:325-329)."""
    table_to_group: dict[str, str] = {}
    for group, tables in groups.items():
        for t in tables:
            table_to_group[t] = group
    return table_to_group


def route(
    table: Column | str, groups: dict[str, list[str]] | None = None
) -> Column:
    """The group of ``table`` (getGroupForTable, main.go:308-310); null
    when the table is in no group or the table name is null.

    ``groups=None`` means DEFAULT_GROUPS; an empty dict routes nothing.
    An empty ``create_map()`` is typed ``map<void, void>``, so that case
    is a typed null literal instead of a lookup."""
    table_to_group = invert_groups(DEFAULT_GROUPS if groups is None else groups)
    if not table_to_group:
        return F.lit(None).cast("string")
    pairs = [F.lit(x) for kv in table_to_group.items() for x in kv]
    col = F.col(table) if isinstance(table, str) else table
    return F.element_at(F.create_map(*pairs), col)


def group_filter(
    df: DataFrame, table_col: str = "table",
    groups: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Drop events whose table is in no group (main.go:51-55)."""
    return df.filter(route(table_col, groups).isNotNull())


def assign_group(
    df: DataFrame, table_col: str = "table",
    groups: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Attach the routing key ``grp`` (main.go:105); ungrouped events drop
    out, exactly like the reference's empty-group skip."""
    return df.withColumn("grp", route(table_col, groups)).filter(
        F.col("grp").isNotNull()
    )
