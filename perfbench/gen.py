"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Seeds are derived with ``numpy.random.SeedSequence``
from (run seed, role, index), so the warm-up inputs (role ``WARMUP``) and
the timed-pass inputs (role ``PASS``) never share a stream.

Corpus tables follow the shape of the driver testdata and the synthesis
scheme of ``tools/make_sf1.py``: each document draws its words from the
corpus vocabulary, keeps a (lang, source, word count) profile, and
embeddings are uniform vectors in the observed value range. Ids stay far
below the planted-id shifts the registry queries add (documents
``+10_000_000``, embeddings ``+100000``).

The board generator writes a Trello export in the reference JSON shape and
a series of drift batches, and returns the change set each batch must
produce when synced. Card ids come from a counter, so a board's ids are
the same for every seed; its titles, lists, fields and drift picks are
seeded.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WARMUP = 0
PASS = 1

# The driver testdata vocabulary (30 words, near-uniform frequencies).
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split(),
    dtype=object,
)
LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
EMB_LO, EMB_HI = -0.35, 0.35
N_LABELS = 10
MAX_VEC_ID = 100_000  # embedding plantings start at +100000


def rng_for(seed: int, role: int, index: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, role, index]))


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vecs: int
    families: int = 0  # planted near-duplicate families
    family_size: int = 0  # docs per family, each a chain: diameter size-1


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_corpus(root: str, spec: CorpusSpec, rng: np.random.Generator) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``root``; return their row counts and byte sizes.

    Planted families are chains: member ``j`` copies member ``j-1`` and
    replaces one word, so consecutive members are near duplicates and the
    family's near-duplicate graph has diameter ``family_size - 1``."""
    os.makedirs(root, exist_ok=True)
    n = spec.docs
    planted = spec.families * spec.family_size
    if planted > n:
        raise ValueError("planted families exceed the corpus size")
    lengths = rng.integers(10, 101, size=n)
    langs = LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]
    sources = rng.integers(0, N_SOURCES, size=n)
    words = [VOCAB[rng.integers(0, len(VOCAB), size=k)] for k in lengths]
    # families occupy the first ids in contiguous chains, so the graph's
    # shape (and the rounds iterative operators need) is the same for every
    # seed; a member inherits its predecessor's profile and only the text
    # drifts along the chain
    ids = np.arange(planted).reshape(spec.families, spec.family_size)
    for fam in ids:
        base = fam[0]
        lengths[base] = max(lengths[base], 40)
        words[base] = VOCAB[rng.integers(0, len(VOCAB), size=lengths[base])]
        for prev, cur in zip(fam[:-1], fam[1:]):
            w = words[prev].copy()
            w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
            words[cur] = w
            langs[cur] = langs[prev]
            sources[cur] = sources[prev]
    texts = [" ".join(w) for w in words]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{s}" for s in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    if spec.vecs > MAX_VEC_ID:
        raise ValueError("vec ids would collide with the planted +100000 ids")
    emb = rng.uniform(EMB_LO, EMB_HI, size=(spec.vecs, EMB_DIM)).astype(np.float32)
    vecs = pa.table(
        {
            "vec_id": pa.array(np.arange(spec.vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, size=spec.vecs), pa.int32()),
        }
    )
    _write(docs, os.path.join(root, "documents.parquet"))
    _write(vecs, os.path.join(root, "embeddings.parquet"))
    return {
        "rows": n + spec.vecs,
        "bytes": sum(
            os.path.getsize(os.path.join(root, f"{t}.parquet"))
            for t in ("documents", "embeddings")
        ),
    }


# --------------------------------------------------------------------------
# board export + drift batches
# --------------------------------------------------------------------------

# mirrors tools/make_board_fixture.py: every list is mapped, so
# customize_cards drops only closed cards
LISTS = [("L1", "Concepts", 1.0), ("L2", "QA", 2.0), ("L3", "In Progress", 3.0)]
STATUS_MAP = {"Concepts": "Pending", "QA": "QA", "In Progress": "In Progress"}
SECADM = "secadm"
CUSTOM_FIELDS = [(SECADM, "Secondary Admin"), ("cftype", "Type"), ("cfprio", "Priority")]
FIELD_VALUES = {
    "cftype": ["bug", "feature", "chore", "docs"],
    "cfprio": ["low", "medium", "high"],
}
MEMBERS = [(f"m{i:02d}", f"user{i}", f"User {i}") for i in range(12)]
LABELS = ["Alpha", "Beta", "Gamma", "Delta"]


@dataclass(frozen=True)
class BoardSpec:
    cards: int  # cards in the initial export
    new_per_batch: int
    retitle_per_batch: int
    flip_per_batch: int
    field_edits_per_batch: int
    redeliver_per_batch: int  # unchanged cards delivered again


@dataclass
class Batch:
    path: str
    cards: int
    # the changes syncing this batch must send: (op, entity_id[, field])
    expected: list = field(default_factory=list)


def _card(idx: int, rng: np.random.Generator) -> dict:
    cid = f"c{idx:06d}"
    members = [MEMBERS[int(i)][0] for i in rng.choice(len(MEMBERS), 2, replace=False)]
    items = [
        {
            "id": f"i{idx:06d}{k}",
            "idChecklist": f"cl{idx:06d}",
            "idMember": None if k % 2 else members[0],
            "name": f"{k + 1}) Task {k} of card {idx} ({k + 1}.5 Dash)",
            "pos": float(k + 1),
            "state": "complete" if k == 2 else "incomplete",
        }
        for k in range(3)
    ]
    return {
        "id": cid,
        "name": f"Card {idx} {VOCAB[int(rng.integers(len(VOCAB)))]}",
        "desc": f"Description for card {idx}.",
        "closed": False,
        "idBoard": "B1",
        "idList": LISTS[int(rng.integers(len(LISTS)))][0],
        "idShort": idx,
        "pos": float(idx),
        "url": f"https://trello.example/c/{cid}",
        "idMembers": members,
        "labels": [
            {"id": f"lb_{n}", "idBoard": "B1", "name": n, "color": "red"}
            for n in sorted(set(LABELS[int(i)] for i in rng.integers(0, 4, 2)))
        ],
        "customFieldItems": [
            {
                "id": f"cfi{idx:06d}{f}",
                "value": {"text": vals[int(rng.integers(len(vals)))]},
                "idCustomField": f,
                "idModel": cid,
                "modelType": "card",
            }
            for f, vals in FIELD_VALUES.items()
        ]
        + [
            {
                "id": f"cfi{idx:06d}s",
                "value": {"text": f"@{MEMBERS[int(rng.integers(len(MEMBERS)))][1]}"},
                "idCustomField": SECADM,
                "idModel": cid,
                "modelType": "card",
            }
        ],
        "_checklist": {
            "id": f"cl{idx:06d}",
            "name": "Specification Tasks",
            "idCard": cid,
            "idBoard": "B1",
            "pos": 1.0,
            "checkItems": items,
        },
    }


def _export(cards: list[dict]) -> dict:
    """A board document holding ``cards`` (new format: top-level
    checklists)."""
    return {
        "id": "B1",
        "name": "Benchmark board",
        "cards": [{k: v for k, v in c.items() if k != "_checklist"} for c in cards],
        "checklists": [c["_checklist"] for c in cards],
        "lists": [{"id": i, "name": n, "pos": p, "closed": False} for i, n, p in LISTS],
        "members": [{"id": i, "username": u, "fullName": f} for i, u, f in MEMBERS],
        "labels": [
            {"id": f"lb_{n}", "idBoard": "B1", "name": n, "color": "red"} for n in LABELS
        ],
        "customFields": [{"id": i, "name": n, "type": "text"} for i, n in CUSTOM_FIELDS],
    }


def _field_name(fid: str) -> str:
    return dict(CUSTOM_FIELDS)[fid]


class BoardStream:
    """One board over time: an initial export, then drift batches that
    each take their own generator, so every batch is a fresh input."""

    def __init__(self, spec: BoardSpec, rng: np.random.Generator):
        self.spec = spec
        self.live: dict[str, dict] = {}
        self.next_idx = 0
        self._initial = [self._new(rng) for _ in range(spec.cards)]

    def _new(self, rng: np.random.Generator) -> dict:
        c = _card(self.next_idx, rng)
        self.next_idx += 1
        self.live[c["id"]] = c
        return c

    @staticmethod
    def _emit(path: str, cards: list[dict], expected: list) -> Batch:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(_export(cards), f, sort_keys=True)
        return Batch(path, len(cards), sorted(expected))

    def export(self, path: str) -> Batch:
        """The initial export: syncing it creates every card."""
        return self._emit(
            path, self._initial, [("create_issue", c["id"]) for c in self._initial]
        )

    def drift(self, path: str, rng: np.random.Generator) -> Batch:
        """New cards, title drift, open/closed flips, field edits and
        re-delivered unchanged cards, on disjoint seeded picks."""
        spec = self.spec
        ids = sorted(self.live)
        sizes = [spec.retitle_per_batch, spec.flip_per_batch,
                 spec.field_edits_per_batch, spec.redeliver_per_batch]
        if sum(sizes) > len(ids):
            raise ValueError("drift batch touches more cards than exist")
        picks = rng.permutation(len(ids))[: sum(sizes)]
        retitle, flip, edit, redeliver = (
            [ids[int(i)] for i in part] for part in np.split(picks, np.cumsum(sizes)[:-1])
        )
        expected = []
        for cid in retitle:
            self.live[cid]["name"] += "x" if self.live[cid]["name"].endswith(" v2") else " v2"
            expected.append(("update_issue", cid))
        for cid in flip:
            self.live[cid]["closed"] = not self.live[cid]["closed"]
            expected.append(("update_issue", cid))
        for cid in edit:
            items = self.live[cid]["customFieldItems"]
            item = items[int(rng.integers(len(FIELD_VALUES)))]
            vals = FIELD_VALUES[item["idCustomField"]]
            item["value"] = {"text": vals[(vals.index(item["value"]["text"]) + 1) % len(vals)]}
            expected.append(("set_field_value", cid, _field_name(item["idCustomField"])))
        fresh = [self._new(rng) for _ in range(spec.new_per_batch)]
        expected += [("create_issue", c["id"]) for c in fresh]
        touched = sorted(set(retitle) | set(flip) | set(edit) | set(redeliver))
        return self._emit(path, [self.live[c] for c in touched] + fresh, expected)

    def final(self, path: str) -> str:
        """The whole board as it stands after every batch so far."""
        self._emit(path, [self.live[c] for c in sorted(self.live)], [])
        return path


def load_export(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
