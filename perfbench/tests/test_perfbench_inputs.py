"""Seeded inputs: the same seed gives byte-identical inputs, another
seed different ones."""

from __future__ import annotations

import gen_dedup
import gen_nsl
import gen_tables


def _nsl_bytes(tmp_path, seed: int, tag: str) -> tuple[bytes, bytes, dict]:
    train, test = tmp_path / f"train-{tag}.txt", tmp_path / f"test-{tag}.txt"
    truth = gen_nsl.write_nsl(seed, str(train), str(test))
    return train.read_bytes(), test.read_bytes(), truth


def test_nsl_files_repeat_per_seed(tmp_path):
    a = _nsl_bytes(tmp_path, 7, "a")
    b = _nsl_bytes(tmp_path, 7, "b")
    c = _nsl_bytes(tmp_path, 8, "c")
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_nsl_files_carry_the_reference_quirks(tmp_path):
    train, test, truth = _nsl_bytes(tmp_path, 3, "q")
    rows = [line.split(",") for line in train.decode().splitlines()]
    test_rows = [line.split(",") for line in test.decode().splitlines()]
    assert len(rows) == gen_nsl.TRAIN_ROWS == 6_302
    assert len(test_rows) == gen_nsl.TEST_ROWS == truth["test_rows"] == 5_638
    assert {len(r) for r in rows + test_rows} == {43}
    su = gen_nsl.FILE_ORDER.index("su_attempted")
    assert "2" in {r[su] for r in rows}
    outbound = gen_nsl.FILE_ORDER.index("num_outbound_cmds")
    assert {r[outbound] for r in rows + test_rows} == {"0"}
    train_names, test_names = {r[41] for r in rows}, {r[41] for r in test_rows}
    assert test_names - train_names          # attack names only the test file has
    assert sum(r[41] != "normal" for r in test_rows) == truth["test_attack_rows"]


def test_tables_repeat_per_seed(tmp_path):
    gen_tables.write_tables(5, str(tmp_path / "a"))
    gen_tables.write_tables(5, str(tmp_path / "b"))
    gen_tables.write_tables(6, str(tmp_path / "c"))
    for t in ("customer", "orders", "lineitem", "events"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a != (tmp_path / "c" / f"{t}.parquet").read_bytes()


def _shard_bytes(path) -> list[bytes]:
    return [f.read_bytes() for f in sorted(path.iterdir())]


def test_corpus_repeats_per_seed_and_scores_planted_pairs(tmp_path):
    docs_a, pairs_a = gen_dedup.write_corpus(11, str(tmp_path / "a"))
    _, pairs_b = gen_dedup.write_corpus(11, str(tmp_path / "b"))
    gen_dedup.write_corpus(12, str(tmp_path / "c"))
    assert _shard_bytes(tmp_path / "a") == _shard_bytes(tmp_path / "b") and pairs_a == pairs_b
    assert len(_shard_bytes(tmp_path / "a")) == gen_dedup.SHARDS
    assert _shard_bytes(tmp_path / "a") != _shard_bytes(tmp_path / "c")
    assert len(docs_a) == gen_dedup.N_DOCS
    assert len(pairs_a) == int(gen_dedup.N_DOCS * gen_dedup.DUP_FRAC)
    text = dict(zip(docs_a["doc_id"], docs_a["text"]))
    for (a, b), j in list(pairs_a.items())[:50]:
        assert a < b
        assert j == gen_dedup.jaccard(gen_dedup.shingles(text[a]), gen_dedup.shingles(text[b]))
    qualifying = sum(j >= gen_dedup.THRESHOLD for j in pairs_a.values())
    assert 0 < qualifying < len(pairs_a)


def test_shingles_match_the_engine_tokeniser():
    assert gen_dedup.shingles("a b c d") == {"a b c", "b c d"}
    assert gen_dedup.shingles("a b") == set()
    assert gen_dedup.jaccard({"x"}, {"x", "y"}) == 0.5
