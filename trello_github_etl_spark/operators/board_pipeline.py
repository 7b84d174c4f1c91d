"""The card/item customization pipeline (customizeTrelloCard,
lib/transform.js:257–305) and the quickview report
(utils/board-quickview.js) as DataFrame transforms.

Design: the board-local dimensions (lists, members, custom fields) are
config-sized — one board's worth, tens of rows — so they are collected
to the driver in one job and inlined as literal ``create_map`` columns,
the Spark analog of the reference's in-memory lookup tables
(lib/transform.js:9, utils/board-quickview.js): no per-row linear
scans, no shuffles, no broadcast sub-plans. A board whose dimensions
do not fit in driver memory is outside this design. Array
order is semantic everywhere (idMembers order drives owner
resolution; customFieldItems order drives the report), so lookups use
``transform`` over the arrays rather than explode+join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import text
from trello_github_etl_spark.functions.checklist import parse_check_item
from trello_github_etl_spark.operators.owners import (
    resolve_owners,
    with_owner_sentinels,
)

LABEL_SENTINEL = "!Label"
ASSIGNEE_SENTINEL = "!Assigned"


def _dim_maps(
    entities: dict[str, DataFrame], dims: dict[str, tuple[str, str, str]]
) -> dict[str, Column]:
    """Literal map columns for config-sized dimensions, collected in one
    job. ``dims`` maps an alias to ``(entity, key column, value
    column)``. Pairs keep the dimension's row order, so duplicate keys
    resolve under the session's ``mapKeyDedupPolicy`` exactly as a map
    built inside the plan would."""
    tagged = [
        entities[entity].select(
            F.lit(alias).alias("_dim"), F.col(key).alias("_k"), F.col(value).alias("_v")
        )
        for alias, (entity, key, value) in dims.items()
    ]
    pairs: dict[str, list] = {alias: [] for alias in dims}
    for r in reduce(DataFrame.unionByName, tagged).collect():
        pairs[r["_dim"]] += [r["_k"], r["_v"]]
    return {alias: _literal_map(kv) for alias, kv in pairs.items()}


def _literal_map(flat_pairs: list) -> Column:
    """``[k1, v1, k2, v2, ...]`` as a literal map<string,string> column
    (typed even when empty)."""
    return F.create_map(*[F.lit(x) for x in flat_pairs]).cast("map<string,string>")


def customize_cards(
    entities: dict[str, DataFrame],
    status_map: dict[str, str],
    secondary_admin_field_id: str,
) -> DataFrame:
    """Derive the `_*` card columns; active cards only.

    Mirrors the reference's skip order: closed first (P1), then
    unmapped list (P2). Derived columns: card_type, card_status,
    custom_field_names, label_names (sorted, ``!Label`` default),
    owner, fallback_owner (sentineled).
    """
    cards = entities["cards"]
    maps = _dim_maps(
        entities,
        {
            "lists": ("lists", "id", "name"),
            "cfs": ("custom_fields", "id", "name"),
            "members": ("members", "id", "username"),
        },
    )
    status = _literal_map([x for kv in status_map.items() for x in kv])

    enriched = (
        cards.filter(~F.coalesce(F.col("closed"), F.lit(False)))
        .withColumn("card_type", F.try_element_at(maps["lists"], F.col("idList")))
        .withColumn(
            "card_status", F.try_element_at(status, F.col("card_type"))
        )
        .filter(F.col("card_status").isNotNull())
        .withColumn(
            "custom_field_names",
            F.transform(
                F.coalesce(F.col("customFieldItems"), F.array()),
                lambda it: F.try_element_at(maps["cfs"], it["idCustomField"]),
            ),
        )
        .withColumn(
            "label_names",
            F.sort_array(
                F.transform(
                    F.coalesce(F.col("labels"), F.array()), lambda l: l["name"]
                )
            ),
        )
        .withColumn(
            "label_names",
            F.when(F.size("label_names") == 0, F.array(F.lit(LABEL_SENTINEL))).otherwise(
                F.col("label_names")
            ),
        )
        .withColumn(
            "member_usernames",
            F.transform(
                F.coalesce(F.col("idMembers"), F.array()),
                lambda mid: F.try_element_at(maps["members"], mid),
            ),
        )
        .withColumn(
            "raw_fallback",
            text.strip_at(
                F.try_element_at(
                    F.filter(
                        F.coalesce(F.col("customFieldItems"), F.array()),
                        lambda it: it["idCustomField"] == F.lit(secondary_admin_field_id),
                    ),
                    F.lit(1),
                )["value"]["text"]
            ),
        )
    )

    resolved = resolve_owners(enriched, entities["members"])
    return with_owner_sentinels(resolved)


def customize_check_items(
    entities: dict[str, DataFrame],
    active_card_ids: DataFrame | None = None,
) -> DataFrame:
    """Derive the `_*` item columns; incomplete items only (P3).

    Adds: amount, title, desc, task_type (F10), assignee
    (``!Assigned`` sentinel when unassigned — transform.js:297–300).
    """
    items = entities["check_items"]
    if active_card_ids is not None:
        items = items.join(
            active_card_ids.select(F.col("id").alias("_acid")),
            items.card_id == F.col("_acid"),
            "left_semi",
        )
    members = _dim_maps(entities, {"members": ("members", "id", "username")})["members"]
    parsed = (
        items.filter(F.col("state") != "complete")
        .withColumn("_p", parse_check_item(F.col("name")))
        .withColumn("task_type", text.task_type(F.col("checklist_name")))
        .withColumn(
            "assignee",
            F.when(F.col("idMember").isNull(), F.lit(ASSIGNEE_SENTINEL)).otherwise(
                F.try_element_at(members, F.col("idMember"))
            ),
        )
    )
    return parsed.select(
        "id",
        "checklist_id",
        "card_id",
        "checklist_name",
        "checklist_pos",
        "pos",
        "state",
        F.col("_p")["clean_name"].alias("clean_name"),
        F.col("_p")["amount"].alias("amount"),
        F.col("_p")["title"].alias("title"),
        F.col("_p")["desc"].alias("desc"),
        "task_type",
        "assignee",
        "idMember",
    )


def quickview_table(
    cards: DataFrame,
    items: DataFrame,
) -> DataFrame:
    """The quickview markdown table rows (board-quickview.js:137–186):
    one row per active card plus one per active item, board order."""
    card_rows = cards.select(
        F.col("id").alias("entity_id"),
        F.lit("card").alias("kind"),
        F.col("card_type").alias("column"),
        F.col("owner").alias("owner"),
        F.col("fallback_owner").alias("fallback"),
        F.array_join("label_names", ", ").alias("labels"),
        F.col("name").alias("title"),
    )
    item_rows = items.select(
        F.col("id").alias("entity_id"),
        F.lit("task").alias("kind"),
        F.col("task_type").alias("column"),
        F.col("assignee").alias("owner"),
        F.lit("").alias("fallback"),
        F.lit("").alias("labels"),
        F.col("title").alias("title"),
    )
    return card_rows.unionByName(item_rows)


def quickview_distincts(cards: DataFrame, items: DataFrame) -> DataFrame:
    """The 'Active X' distinct sections (board-quickview.js:194–204):
    one tagged projection over the cards and one over the items."""

    def tagged(category: str, value) -> Column:
        return F.struct(F.lit(category).alias("category"), value.alias("value"))

    def tagged_each(category: str, values: str) -> Column:
        return F.transform(values, lambda v: tagged(category, v))

    card_values = cards.select(
        F.inline(
            F.concat(
                F.array(tagged("Columns", F.col("card_type")), tagged("Owners", F.col("owner"))),
                tagged_each("Labels", "label_names"),
                tagged_each("Custom Fields", "custom_field_names"),
            )
        )
    )
    item_values = items.select(
        F.inline(
            F.array(tagged("Checklists", F.col("task_type")), tagged("Members", F.col("assignee")))
        )
    )
    return card_values.unionByName(item_values).distinct().orderBy("category", "value")
