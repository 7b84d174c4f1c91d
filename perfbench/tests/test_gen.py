import filecmp
import os

import gen


def _corpus(root, seed, role=gen.PASS, index=0):
    spec = gen.CorpusSpec(docs=60, vecs=30, families=4, family_size=3)
    gen.write_corpus(str(root), spec, gen.rng_for(seed, role, index))
    return [os.path.join(str(root), f"{t}.parquet") for t in ("documents", "embeddings")]


def test_same_seed_writes_byte_identical_corpus(tmp_path):
    a = _corpus(tmp_path / "a", 5)
    b = _corpus(tmp_path / "b", 5)
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_warmup_and_pass_inputs_differ(tmp_path):
    warm = _corpus(tmp_path / "w", 5, role=gen.WARMUP)
    timed = _corpus(tmp_path / "p", 5, role=gen.PASS)
    assert not filecmp.cmp(warm[0], timed[0], shallow=False)


def test_planted_chains_and_id_ranges(tmp_path):
    import pyarrow.parquet as pq

    docs, vecs = _corpus(tmp_path / "c", 9)
    d = pq.read_table(docs).to_pydict()
    assert max(d["doc_id"]) < 10_000_000 and max(pq.read_table(vecs)["vec_id"].to_pylist()) < 100_000
    # each planted member differs from its predecessor in at most one word
    for fam in range(4):
        chain = [d["text"][fam * 3 + j].split() for j in range(3)]
        for prev, cur in zip(chain, chain[1:]):
            assert len(prev) == len(cur)
            assert sum(a != b for a, b in zip(prev, cur)) <= 1


def _board(root, seed):
    spec = gen.BoardSpec(
        cards=20, new_per_batch=3, retitle_per_batch=2, flip_per_batch=2,
        field_edits_per_batch=2, redeliver_per_batch=2,
    )
    stream = gen.BoardStream(spec, gen.rng_for(seed, gen.WARMUP, 0))
    batches = [stream.export(os.path.join(str(root), "export.json"))]
    batches.append(stream.drift(os.path.join(str(root), "d1.json"), gen.rng_for(seed, gen.PASS, 0)))
    return batches


def test_same_seed_writes_byte_identical_board(tmp_path):
    a = _board(tmp_path / "a", 3)
    b = _board(tmp_path / "b", 3)
    for x, y in zip(a, b):
        assert filecmp.cmp(x.path, y.path, shallow=False)
        assert x.expected == y.expected


def test_drift_batch_expects_one_change_per_touched_card(tmp_path):
    _, drift = _board(tmp_path, 3)
    ops = [e[0] for e in drift.expected]
    assert ops.count("create_issue") == 3
    assert ops.count("update_issue") == 4  # retitles + flips
    assert ops.count("set_field_value") == 2
    # re-delivered cards are in the batch but expect no change
    assert drift.cards == 3 + 2 + 2 + 2 + 2
