"""CDC planning + board pipeline at 100×–10⁴× board scale — VERDICT
r11 #6: nothing measured plan_upserts at scale; pin that it stays two
keyed joins + one MERGE with NO window, and that the board pipeline's
dimension lookups stay literal maps when cards × 10⁴.

Scale model: a bigger board has MORE CARDS, not more lists/members/
custom fields — so cards and check_items are replicated 10,000× with
replica-suffixed ids (36 cards → 360k entities, 32 items → 320k)
while the three dimensions stay fixture-sized, exactly the shape a
100 TB deployment has (fact grows, dims don't).

Measurements (median-of-3, solo):
- plan_upserts over 360k desired vs ~320k state rows (state derived
  with deterministic perturbations: 1/9 missing → creates, 1/7 title
  drift, 1/5 stale field) — counts of all three outputs;
- merge_state + advance_migration over the same;
- the bp1 quickview chain (customize_cards + customize_check_items +
  quickview_table) over the replicated board.

Plan pins (hard assertions, receipt fails if violated):
- NO WindowExec anywhere (the "no window blowup" claim);
- plan_upserts' creates is a LEFT-ANTI join, updates an inner join —
  both keyed on entity_id, so the whole plan is one entity_id
  shuffle per side;
- merge_state is anti-join + union;
- the board pipeline's lists/custom_fields/members maps are literal
  map columns in the plan, not joined in: no BroadcastNestedLoopJoin.

Writes CDC_SCALE.json.

    python tools/cdc_scale_receipt.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REPLICAS = 10_000


def median_secs(thunk, runs: int = 3) -> float:
    times = []
    for _ in range(runs):
        t0 = time.time()
        thunk()
        times.append(time.time() - t0)
    return round(statistics.median(times), 3)


def main() -> int:
    from pyspark.sql import functions as F

    from trello_github_etl_spark.operators.board_pipeline import (
        customize_cards,
        customize_check_items,
        quickview_table,
    )
    from trello_github_etl_spark.plans.upserts import (
        advance_migration,
        merge_state,
        plan_upserts,
    )
    from trello_github_etl_spark.queries.board_q import (
        BOARD_FIXTURE_DIR,
        SECADM,
        STATUS_MAP,
        _board_entities,
    )
    from trello_github_etl_spark.session import get_spark

    spark = get_spark("cdc-scale-receipt")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"replicas": REPLICAS}

    ents = _board_entities(spark)
    reps = spark.range(REPLICAS).select(F.col("id").alias("_rep"))

    def suffixed(col):
        return F.concat(F.col(col), F.lit("#"), F.col("_rep").cast("string"))

    cards_big = (
        ents["cards"].crossJoin(reps)
        .withColumn("id", suffixed("id"))
        .drop("_rep")
        .localCheckpoint(eager=True)  # pin: measure the plans, not the 10k-way crossJoin rebuild
    )
    items_big = (
        ents["check_items"].crossJoin(reps)
        .withColumn("id", suffixed("id"))
        .withColumn("card_id", suffixed("card_id"))
        .drop("_rep")
        .localCheckpoint(eager=True)
    )
    big = dict(ents, cards=cards_big, check_items=items_big)
    out["n_cards"] = cards_big.count()
    out["n_items"] = items_big.count()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # --- plan_upserts at 360k ------------------------------------
    desired = cards_big.select(
        F.col("id").alias("entity_id"),
        F.col("name").alias("title"),
        F.when(F.coalesce(F.col("closed"), F.lit(False)), "closed")
        .otherwise("open")
        .alias("state"),
        F.create_map(
            F.lit("Status"), F.col("idList"),
            F.lit("List"), F.col("idBoard"),
        ).alias("field_values"),
    ).localCheckpoint(eager=True)
    h = F.abs(F.xxhash64("entity_id"))
    state = (
        desired.filter(h % 9 != 0)  # 1/9 of desired missing → creates
        .select(
            F.lit("card").alias("entity_kind"),
            "entity_id",
            (h % 100000).alias("issue_number"),
            F.when(h % 7 == 0, F.concat("title", F.lit(" OLD")))
            .otherwise(F.col("title"))
            .alias("title"),
            "state",
            F.lit(0).cast("long").alias("migration"),
            F.when(
                h % 5 == 0,
                F.map_from_arrays(
                    F.array(F.lit("Status")), F.array(F.lit("STALE"))
                ),
            )
            .otherwise(F.col("field_values"))
            .alias("field_values"),
        )
        .localCheckpoint(eager=True)
    )

    plan = plan_upserts(desired, state)
    out["t_creates"] = median_secs(lambda: run(plan.creates))
    out["t_updates"] = median_secs(lambda: run(plan.updates))
    out["t_field_changes"] = median_secs(lambda: run(plan.field_changes))
    out["n_creates"] = plan.creates.count()
    out["n_updates"] = plan.updates.count()
    out["n_field_changes"] = plan.field_changes.count()

    applied = plan.updates.select(
        F.lit("card").alias("entity_kind"),
        "entity_id",
        F.lit(1).cast("long").alias("issue_number"),
        "title",
        "state",
        F.lit(0).cast("long").alias("migration"),
        "field_values",
    )
    out["t_merge"] = median_secs(lambda: run(merge_state(state, applied)))
    out["t_advance_migration"] = median_secs(
        lambda: run(advance_migration(state, desired))
    )

    # --- plan pins ------------------------------------------------
    def plan_str(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    p_creates = plan_str(plan.creates)
    p_updates = plan_str(plan.updates)
    p_fields = plan_str(plan.field_changes)
    p_merge = plan_str(merge_state(state, applied))
    pins = {
        "creates_is_left_anti": "LeftAnti" in p_creates,
        "updates_is_inner_join": "Inner" in p_updates,
        "merge_is_anti_plus_union": "LeftAnti" in p_merge
        and "Union" in p_merge,
        "no_window_anywhere": all(
            "Window" not in p for p in (p_creates, p_updates, p_fields, p_merge)
        ),
    }

    # --- bp1 quickview chain at 360k cards ------------------------
    def bp1_big():
        cards = customize_cards(big, STATUS_MAP, SECADM)
        items = customize_check_items(big, active_card_ids=cards)
        run(quickview_table(cards, items))

    out["t_quickview_360k"] = median_secs(bp1_big)
    cards = customize_cards(big, STATUS_MAP, SECADM)
    items = customize_check_items(big, active_card_ids=cards)
    p_qv = plan_str(quickview_table(cards, items))
    pins["board_dims_literal"] = "BroadcastNestedLoopJoin" not in p_qv
    pins["quickview_no_window"] = "Window" not in p_qv

    out["pins"] = pins
    ok = all(pins.values())
    out["all_pins_hold"] = ok

    with open(os.path.join(ROOT, "CDC_SCALE.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, indent=1, sort_keys=True))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
