"""End-to-end board pipeline tests on a crafted fixture board.

Covers the FIXTURES.md §C owner case matrix, the old/new board format
upgrade, active filters, label sorting, and item parsing.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from trello_github_etl_spark.operators.board_pipeline import (
    customize_cards,
    customize_check_items,
    quickview_distincts,
    quickview_table,
)
from trello_github_etl_spark.sources.board import normalize_board, read_board

STATUS_MAP = {"Concepts": "Pending", "QA": "QA"}
SECADM = "secadm"


def _card(cid, name, list_id, members=None, closed=False, labels=None,
          cfi=None, checklists=None, desc=""):
    c = {
        "id": cid,
        "name": name,
        "desc": desc,
        "closed": closed,
        "idBoard": "B1",
        "idList": list_id,
        "idMembers": members or [],
        "labels": [{"id": f"lb_{n}", "idBoard": "B1", "name": n, "color": "red"}
                   for n in (labels or [])],
        "customFieldItems": cfi or [],
        "url": f"https://trello.example/c/{cid}",
    }
    if checklists is not None:
        c["checklists"] = checklists
    return c


def _secadm(textval):
    return {
        "id": "cfi1",
        "value": {"text": textval},
        "idCustomField": SECADM,
        "idModel": "c",
        "modelType": "card",
    }


def _item(iid, clid, name, state="incomplete", pos=1.0, member=None):
    return {
        "id": iid,
        "idChecklist": clid,
        "name": name,
        "state": state,
        "pos": pos,
        "idMember": member,
    }


BOARD = {
    "id": "B1",
    "name": "Fixture Board",
    "lists": [
        {"id": "L1", "name": "Concepts", "pos": 1.0, "closed": False},
        {"id": "L2", "name": "Unused", "pos": 2.0, "closed": False},
    ],
    "members": [
        {"id": "m1", "username": "alice", "fullName": "Alice A"},
        {"id": "m2", "username": "samkirby22", "fullName": "Sam K"},
        {"id": "m3", "username": "sam", "fullName": "Sam Only"},
        {"id": "m4", "username": "bob99", "fullName": "Bob B"},
    ],
    "labels": [],
    "customFields": [
        {"id": SECADM, "name": "Secondary Admin", "type": "text"},
        {"id": "cftype", "name": "Type", "type": "text"},
    ],
    "cards": [
        # c1: OLD format (nested checklist); fallback substring-match path
        _card("c1", "Incubator on GitHub", "L1", members=["m2", "m3"],
              labels=["Beta", "Alpha"], cfi=[_secadm("@samkirby")],
              checklists=[{
                  "id": "cl1", "name": "Specification Tasks", "idCard": "c1",
                  "idBoard": "B1", "pos": 2.0,
                  "checkItems": [
                      _item("i1", "cl1", "2)  Write the spec (1.5 Dash)", pos=2.0),
                      _item("i2", "cl1", "done already", state="complete", pos=1.0),
                      _item("i3", "cl1",
                            "Fix the frontend of the site so that it works on mobile again",
                            pos=3.0, member="m1"),
                  ],
              }]),
        # c2: NEW format (no checklists key; adopts top-level)
        _card("c2", "Decentralized TLS", "L1", members=["m1"]),
        # c3: closed → inactive
        _card("c3", "Old stuff", "L1", closed=True),
        # c4: unmapped list → inactive
        _card("c4", "Parked", "L2"),
        # c5: fallback typo matching nobody, no rescue → sentinel
        _card("c5", "Typo fallback", "L1", members=["m1", "m4"],
              cfi=[_secadm("bobtypo")]),
        # c6: every member matches fallback → owner sentinel
        _card("c6", "All match", "L1", members=["m1"], cfi=[_secadm("alice")]),
        # c7: rescue path — exact match in full dim, not on card
        _card("c7", "Rescue", "L1", members=["m1"], cfi=[_secadm("SAMKIRBY22")]),
    ],
    "checklists": [
        {"id": "cl2", "name": "QA Tasks", "idCard": "c2", "idBoard": "B1",
         "pos": 1.0,
         "checkItems": [
             _item("i4", "cl2",
                   "1) Fix the frontend of the site so that it works (0.5 Dash)",
                   pos=1.0),
         ]},
        # belongs to an OLD-format card → must be dropped by the upgrade
        {"id": "cl3", "name": "Dupe Tasks", "idCard": "c1", "idBoard": "B1",
         "pos": 9.0, "checkItems": [_item("i9", "cl3", "should not appear")]},
    ],
}


@pytest.fixture(scope="module")
def entities(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("board") / "board.json"
    p.write_text(json.dumps(BOARD))
    return normalize_board(read_board(spark, str(p)))


@pytest.fixture(scope="module")
def cards(entities):
    return customize_cards(entities, STATUS_MAP, SECADM).cache()


@pytest.fixture(scope="module")
def items(entities, cards):
    return customize_check_items(entities, active_card_ids=cards).cache()


def test_upgrade_old_vs_new_format(entities):
    cls = {r.id: r.idCard for r in entities["checklists"].collect()}
    assert cls == {"cl1": "c1", "cl2": "c2"}  # cl3 dropped: c1 is old-format
    item_ids = {r.id for r in entities["check_items"].collect()}
    assert item_ids == {"i1", "i2", "i3", "i4"}


def test_active_filters(cards):
    ids = {r.id for r in cards.select("id").collect()}
    assert ids == {"c1", "c2", "c5", "c6", "c7"}  # c3 closed, c4 unmapped


def test_labels_sorted_with_sentinel(cards):
    rows = {r.id: r.label_names for r in cards.collect()}
    assert rows["c1"] == ["Alpha", "Beta"]
    assert rows["c2"] == ["!Label"]


def test_owner_case_matrix(cards):
    rows = {r.id: (r.owner, r.fallback_owner) for r in cards.collect()}
    # substring fallback: samkirby22 matches 'samkirby' → excluded from owner
    assert rows["c1"] == ("sam", "samkirby22")
    # no fallback field → first member, sentinel fallback
    assert rows["c2"] == ("alice", "!Fallback")
    # typo fallback matches nobody, rescue misses → sentinel
    assert rows["c5"] == ("alice", "!Fallback")
    # sole member matches the fallback → no owner, member becomes fallback
    assert rows["c6"] == ("!Owner", "alice")
    # rescue: exact (case-insensitive) match in full dim
    assert rows["c7"] == ("alice", "samkirby22")


def test_item_parsing_and_filters(items):
    rows = {r.id: r for r in items.collect()}
    assert set(rows) == {"i1", "i3", "i4"}  # i2 complete, i9 dropped with cl3

    i1 = rows["i1"]
    assert i1.clean_name == "Write the spec"
    assert i1.amount == "1.5"
    assert i1.title == "Write the spec "
    assert i1.desc == "Bounty: 1.5 Dash"
    assert i1.task_type == "Specification Task"
    assert i1.assignee == "!Assigned"

    i3 = rows["i3"]
    assert i3.amount is None
    assert i3.title.endswith("...")
    assert len(i3.title) <= 50 + 3 + 10
    assert i3.assignee == "alice"

    i4 = rows["i4"]
    assert i4.amount == "0.5"
    assert i4.clean_name == "Fix the frontend of the site so that it works"
    assert i4.task_type == "QA Task"


def test_quickview(cards, items):
    table = quickview_table(cards, items)
    assert table.count() == 5 + 3
    kinds = {r.kind for r in table.collect()}
    assert kinds == {"card", "task"}

    d = quickview_distincts(cards, items).collect()
    by_cat = {}
    for r in d:
        by_cat.setdefault(r.category, []).append(r.value)
    assert by_cat["Columns"] == ["Concepts"]
    assert "samkirby22" in by_cat["Owners"] or "sam" in by_cat["Owners"]
    assert by_cat["Labels"] == ["!Label", "Alpha", "Beta"]
    assert by_cat["Checklists"] == ["QA Task", "Specification Task"]


def test_quickview_job_floor(spark, tmp_path, spark_jobs):
    """The board dimensions are literal maps (collected while the
    frames are built), so collecting the quickview table and distincts
    starts at most 11 Spark jobs, and no plan joins or aggregates a
    dimension. The board is read from its own file, so no frame cached
    by the other tests stands in for any part of the plan."""
    p = tmp_path / "board.json"
    p.write_text(json.dumps(BOARD))
    ents = normalize_board(read_board(spark, str(p)))
    cards = customize_cards(ents, STATUS_MAP, SECADM)
    items = customize_check_items(ents, active_card_ids=cards)
    table = quickview_table(cards, items)
    distincts = quickview_distincts(cards, items)
    with spark_jobs() as jobs:
        table.collect()
        distincts.collect()
    assert len(jobs) <= 11
    for df in (table, distincts):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ObjectHashAggregate" not in plan


def test_missing_and_empty_dimensions(spark, tmp_path):
    """A board without customFields and with no members: custom field
    and member lookups miss (null), owners fall back to ``!Owner`` and
    unassigned items to ``!Assigned``."""
    board = dict(BOARD, members=[])
    del board["customFields"]
    board["cards"] = [
        _card("e1", "No fields", "L1", members=["m1"]),
        _card("e2", "Unknown field", "L1", cfi=[_secadm("alice")],
              checklists=[{
                  "id": "cle", "name": "QA Tasks", "idCard": "e2",
                  "idBoard": "B1", "pos": 1.0,
                  "checkItems": [
                      _item("ie1", "cle", "unassigned"),
                      _item("ie2", "cle", "assigned", member="m1"),
                  ],
              }]),
    ]
    board["checklists"] = []
    p = tmp_path / "board.json"
    p.write_text(json.dumps(board))
    ents = normalize_board(read_board(spark, str(p)))
    cards = customize_cards(ents, STATUS_MAP, SECADM)
    items = customize_check_items(ents, active_card_ids=cards)

    rows = {r.id: r for r in cards.collect()}
    assert rows["e1"].custom_field_names == []
    assert rows["e2"].custom_field_names == [None]
    assert rows["e1"].member_usernames == [None]
    assert {r.owner for r in rows.values()} == {"!Owner"}
    assert {r.id: r.assignee for r in items.collect()} == {
        "ie1": "!Assigned",
        "ie2": None,
    }
    assert dict(cards.dtypes)["custom_field_names"] == "array<string>"
