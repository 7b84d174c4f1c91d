"""The benchmark workloads.

A workload makes the inputs for one pass from a seeded generator, runs the
pass's operations through a ``Recorder``, and afterwards checks every
output. Checks run outside the timed window.

- ``board_sync``: the reference's own job, board export plus drift batches
  synced through plan, sink and state-store merge, with a report between
  syncs.
- ``corpus_dedup``: the near-duplicate graph and semantic-dedup queries
  over a small corpus with planted near-duplicate chains, and the per-row
  PII scrub and shingle containment kernel over a larger corpus.
"""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trello_github_etl_spark import registry
from trello_github_etl_spark.operators.board_pipeline import (
    customize_cards,
    customize_check_items,
    quickview_distincts,
    quickview_table,
)
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.plans.upserts import M_LISTS, STATE_SCHEMA, plan_upserts
from trello_github_etl_spark.sources.board import normalize_board, read_board
from trello_github_etl_spark.sources.rest_sink import SinkConfig, run_sink

import gen
from layers import Recorder
from transport import FakeTransport, RecordingSleep, read_log

# tools/verify_local.py's order-insensitive normalization; that module puts
# a fixed path on sys.path at import, which is taken off again here
_path = list(sys.path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.verify_local import normalize  # noqa: E402

sys.path[:] = _path


class Workload:
    name = ""
    why = ""
    ops: tuple[str, ...] = ()

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self._inputs = 0

    def input_dir(self, role: int, index: int) -> str:
        """A directory no earlier input used, so path-keyed memos in the
        program never see the same path twice."""
        self._inputs += 1
        return os.path.join(self.work_dir, f"in{self._inputs:03d}-{role}-{index}")

    def make_input(self, role: int, index: int) -> dict:
        """Generate the warm-up input (role WARMUP) or one timed pass's
        input (role PASS); return its description."""
        raise NotImplementedError

    def run_pass(self, spark: SparkSession, rec: Recorder, inp: dict, pass_idx: int) -> None:
        raise NotImplementedError

    def check(self, spark: SparkSession, inp: dict) -> list[str]:
        """One problem per operation of the pass whose output is wrong."""
        raise NotImplementedError

    def check_end(self, spark: SparkSession) -> list[str]:
        """Problems visible only after the last pass."""
        return []

    def describe(self) -> dict:
        raise NotImplementedError


# --------------------------------------------------------------------------
# registry-query workloads
# --------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Registry queries over two seeded corpora per pass: a small one with
    planted near-duplicate chains for the graph and semantic-dedup
    operators, and a larger one for the per-row and shingle-pair
    operators."""

    name = "corpus_dedup"
    why = (
        "dup-graph and semantic-dedup plan-build (eager jobs, pins) beside per-row "
        "and shingle-pair data work (shuffle, CPU) over seeded corpora"
    )
    # op -> corpus it reads
    ops_on = {
        "dd6_dup_clusters": "graph",
        "dd14_semantic_dedup": "graph",
        "t18_pii_scrub": "filter",
        "dd29_containment_pairs": "filter",
    }
    ops = tuple(ops_on)
    # Inputs sized so that a pass takes 6-11 s, and set-up, two passes and
    # the checks fit in about 50 s.
    specs = {
        "graph": gen.CorpusSpec(docs=200, vecs=200, families=10, family_size=4),
        "filter": gen.CorpusSpec(docs=1500, vecs=0),
    }
    warmup_specs = {
        "graph": gen.CorpusSpec(docs=100, vecs=100, families=5, family_size=4),
        "filter": gen.CorpusSpec(docs=500, vecs=0),
    }

    def make_input(self, role, index):
        root = self.input_dir(role, index)
        inp = {"dirs": {}, "rows": 0, "bytes": 0, "outputs": {}}
        specs = self.specs if role == gen.PASS else self.warmup_specs
        for k, (corpus, spec) in enumerate(specs.items()):
            d = os.path.join(root, corpus)
            info = gen.write_corpus(d, spec, gen.rng_for(self.seed, role, 2 * index + k))
            inp["dirs"][corpus] = d
            inp["rows"] += info["rows"]
            inp["bytes"] += info["bytes"]
        return inp

    def run_pass(self, spark, rec, inp, pass_idx):
        for name, corpus in self.ops_on.items():
            with rec.op(pass_idx, name) as op:
                with rec.span("queries", "build"):
                    df = registry.QUERIES[name](spark, inp["dirs"][corpus])
                with rec.span("operators", "action"):
                    rows = df.collect()
                inp["outputs"][name] = ([tuple(r) for r in rows], df.columns)
            if op.error:
                inp["outputs"].pop(name, None)

    def check(self, spark, inp):
        problems = []
        for corpus, d in inp["dirs"].items():
            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    path = os.path.join(d, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                for name, (rows, cols) in inp["outputs"].items():
                    if self.ops_on[name] != corpus:
                        continue
                    rel = con.sql(registry.ORACLES[name])
                    want = normalize(rel.fetchall(), rel.columns)
                    if sorted(cols) != sorted(rel.columns):
                        problems.append(f"{name}: columns {sorted(cols)} != {sorted(rel.columns)}")
                    elif normalize(rows, cols) != want:
                        problems.append(
                            f"{name}: {len(rows)} rows differ from the oracle's {len(want)}"
                        )
            finally:
                con.close()
        return problems

    def describe(self):
        out = {}
        for corpus, s in self.specs.items():
            out[corpus] = {"docs": s.docs, "vecs": s.vecs}
            if s.families:
                out[corpus].update(
                    families=s.families,
                    family_size=s.family_size,
                    chain_diameter=s.family_size - 1,
                )
        out["ops"] = self.ops_on
        return out


# --------------------------------------------------------------------------
# board_sync
# --------------------------------------------------------------------------

def _customized(entities: dict) -> tuple[DataFrame, DataFrame]:
    cards = customize_cards(entities, gen.STATUS_MAP, gen.SECADM)
    items = customize_check_items(entities, active_card_ids=cards)
    return cards, items


def desired_state(entities: dict, cards: DataFrame) -> DataFrame:
    """One row per card: active cards (customized) open, closed cards
    closed, and every custom field's value by field name."""
    raw = entities["cards"]
    names = F.create_map(*[F.lit(x) for kv in gen.CUSTOM_FIELDS for x in kv])
    fields = raw.select(
        F.col("id").alias("_fid"),
        F.map_from_entries(
            F.transform(
                F.coalesce("customFieldItems", F.array()),
                lambda it: F.struct(
                    F.element_at(names, it["idCustomField"]),
                    it["value"]["text"],
                ),
            )
        ).alias("field_values"),
    )
    active = cards.select(
        F.col("id").alias("entity_id"), F.col("name").alias("title"), F.lit("open").alias("state")
    )
    closed = raw.filter(F.coalesce("closed", F.lit(False))).select(
        F.col("id").alias("entity_id"), F.col("name").alias("title"), F.lit("closed").alias("state")
    )
    both = active.unionByName(closed)
    return both.join(fields, both.entity_id == fields._fid).drop("_fid")


def _payloads(plan) -> DataFrame:
    """Creates, updates and field changes as one serialized sink input,
    one transport payload per row."""
    none = F.lit(None).cast("string")
    return (
        plan.creates.select(
            F.lit("create_issue").alias("op"), "entity_id", "title", "state",
            none.alias("field_name"), none.alias("new_value"),
        )
        .unionByName(
            plan.updates.select(
                F.lit("update_issue").alias("op"), "entity_id", "title", "state",
                none.alias("field_name"), none.alias("new_value"),
            )
        )
        .unionByName(
            plan.field_changes.select(
                F.lit("set_field_value").alias("op"), "entity_id",
                none.alias("title"), none.alias("state"), "field_name", "new_value",
            )
        )
    )


def _applied(desired: DataFrame, changed_ids: DataFrame) -> DataFrame:
    return desired.join(changed_ids, "entity_id", "left_semi").select(
        F.lit("card").alias("entity_kind"),
        "entity_id",
        F.substring("entity_id", 2, 16).cast("long").alias("issue_number"),
        "title",
        F.lit("").alias("body"),
        "state",
        F.lit(M_LISTS).cast("long").alias("migration"),
        "field_values",
    )


class BoardSync(Workload):
    name = "board_sync"
    why = (
        "writes beside reads on small data: plans, the sink and the job floor do "
        "the work, the operator data path little"
    )
    ops = ("sync", "report")
    # The first warm-up input is the initial export; every later input
    # syncs one more drift batch of the same board into the same state
    # store. The board has the 36 cards of the repo's reference fixture
    # (tools/make_board_fixture.py). A drift batch makes one change of
    # each kind: the retitle, new card and field change of the drift step
    # in tests/test_e2e_idempotency.py, plus one open/closed flip and one
    # re-delivered unchanged card, whose counts are assumptions. The
    # rate-limited share of transport attempts is also an assumption: the
    # replay test in tests/test_http_transport.py limits 1 of 3 attempts.
    spec = gen.BoardSpec(
        cards=36, new_per_batch=1, retitle_per_batch=1,
        flip_per_batch=1, field_edits_per_batch=1, redeliver_per_batch=1,
    )
    limit_share = 1.0 / 3.0

    def make_input(self, role, index):
        root = self.input_dir(role, index)
        rng = gen.rng_for(self.seed, role, index)
        if role == gen.WARMUP and index == 0:
            self.board = gen.BoardStream(self.spec, rng)
            self.store = VersionedStateStore(os.path.join(root, "state"))
            batches = [self.board.export(os.path.join(root, "export.json"))]
        else:
            batches = [self.board.drift(os.path.join(root, "drift.json"), rng)]
        return {
            "dir": root,
            "batches": batches,
            "rows": sum(b.cards for b in batches),
            "bytes": sum(os.path.getsize(b.path) for b in batches),
            "syncs": [],
            "reports": [],
        }

    def run_pass(self, spark, rec, inp, pass_idx):
        """Sync each batch, and report on the board after each sync, so a
        report runs between any two syncs."""
        for b, batch in enumerate(inp["batches"]):
            self._sync(spark, rec, inp, pass_idx, b, batch)
            self._report(spark, rec, inp, pass_idx, batch)

    def _sync(self, spark, rec, inp, pass_idx, b, batch):
        """Each step materializes what it produces, so its span times its
        own work: the plan's joins run inside ``plan_upserts``, not again
        inside the sink and the merge."""
        store = self.store
        log = os.path.join(inp["dir"], f"sink-{b}.jsonl")
        held: list[DataFrame] = []
        with rec.op(pass_idx, "sync") as op:
            try:
                with rec.span("sources", "read_board"):
                    entities = normalize_board(_held(read_board(spark, batch.path), held))
                with rec.span("queries", "customize"):
                    cards, _ = _customized(entities)
                    desired = desired_state(entities, cards)
                with rec.span("operators", "action"):
                    desired = _held(desired, held)
                with rec.span("plans", "plan_upserts"):
                    version = store.latest_version()
                    state = (
                        store.read(spark) if version
                        else spark.createDataFrame([], STATE_SCHEMA)
                    )
                    payloads = _held(_payloads(plan_upserts(desired, state)), held)
                    changed = _held(payloads.select("entity_id").distinct(), held)
                transport = FakeTransport(log, self.seed * 7919 + b, self.limit_share)
                sleep = RecordingSleep(log)
                cfg = SinkConfig(sleep_s=0.0)
                with rec.span("sources", "run_sink"):
                    run_sink(payloads, transport, cfg, sleep)
                applied = _applied(desired, changed)
                held_before = _dir_mb(store.root)
                with rec.span("plans", "commit"):
                    new_version = store.merge(applied) if version else store.commit(applied)
            finally:
                _release(held)
            sink = read_log(log)
            op.counters.update(
                {
                    "creates": sum(1 for k in sink.acks if k[0] == "create_issue"),
                    "updates": sum(1 for k in sink.acks if k[0] == "update_issue"),
                    "field_changes": sum(1 for k in sink.acks if k[0] == "set_field_value"),
                    "commit_mb": _dir_mb(store.root) - held_before,
                    "versions": new_version,
                    "sink_calls": sink.attempts,
                    "sink_retries": sink.limited,
                    "sink_acks": len(sink.acks),
                    "sink_backoff_s": sink.backoff_s,
                }
            )
        inp["syncs"].append((batch, log))

    def _report(self, spark, rec, inp, pass_idx, batch):
        """The report reads the board lazily, as a read-only job would:
        its JSON parse runs inside the action."""
        with rec.op(pass_idx, "report") as op:
            with rec.span("sources", "read_board"):
                entities = normalize_board(read_board(spark, batch.path))
            with rec.span("queries", "build"):
                cards, items = _customized(entities)
                table = quickview_table(cards, items)
                distincts = quickview_distincts(cards, items)
            with rec.span("operators", "action"):
                out = (table.collect(), distincts.collect())
        if not op.error:
            inp["reports"].append((batch, out))

    def check(self, spark, inp):
        problems = []
        for batch, log in inp["syncs"]:
            sent = sorted(read_log(log).acks)
            want = sorted(tuple(e) for e in batch.expected)
            if sent != want:
                problems.append(
                    f"sync {batch.path}: sent {len(sent)} changes, expected {len(want)}"
                )
        for batch, (table, distincts) in inp["reports"]:
            problems += _check_report(batch, table, distincts)
        return problems

    def check_end(self, spark):
        """Re-planning the whole board against the final state plans no
        work."""
        final = self.board.final(os.path.join(self.input_dir(gen.PASS, -1), "final.json"))
        entities = normalize_board(read_board(spark, final))
        cards, _ = _customized(entities)
        plan = plan_upserts(desired_state(entities, cards), self.store.read(spark))
        left = _payloads(plan).count()
        if left:
            return [f"re-plan of the final board plans {left} changes"]
        return []

    def describe(self):
        s = self.spec
        return {
            "cards": s.cards,
            "per_batch": {
                "new": s.new_per_batch, "retitle": s.retitle_per_batch,
                "flip": s.flip_per_batch, "field_edit": s.field_edits_per_batch,
                "redeliver": s.redeliver_per_batch,
            },
            "rate_limited_share": self.limit_share,
        }


def _check_report(batch, table, distincts) -> list[str]:
    """The quickview holds one card row per open card of the batch and
    one task row per incomplete check item on it."""
    doc = gen.load_export(batch.path)
    open_cards = [c for c in doc["cards"] if not c["closed"]]
    open_ids = {c["id"] for c in open_cards}
    items = [
        it["id"] for cl in doc["checklists"] if cl["idCard"] in open_ids
        for it in cl["checkItems"] if it["state"] != "complete"
    ]
    got_cards = sorted(r["entity_id"] for r in table if r["kind"] == "card")
    got_items = sorted(r["entity_id"] for r in table if r["kind"] == "task")
    list_names = dict((i, n) for i, n, _ in gen.LISTS)
    columns = sorted({list_names[c["idList"]] for c in open_cards})
    got_columns = sorted(r["value"] for r in distincts if r["category"] == "Columns")
    if (got_cards, got_items, got_columns) != (sorted(open_ids), sorted(items), columns):
        return [f"report {batch.path}: quickview rows differ"]
    return []


def _held(df: DataFrame, held: list) -> DataFrame:
    """Persist ``df`` and compute it now; ``_release`` drops it."""
    df = df.persist()
    df.count()
    held.append(df)
    return df


def _release(held: list) -> None:
    for df in held:
        df.unpersist(blocking=True)


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, n)) for n in names)
    return total / (1024.0 * 1024.0)


WORKLOADS = {w.name: w for w in (BoardSync, CorpusDedup)}
