"""Content-defined chunking (operators/cdchunk.py) vs a pure-Python
reference with the identical md5-window cut rule."""

from __future__ import annotations

import hashlib

from embulk_spark.operators.cdchunk import (
    KEY_BASE,
    chunk_dedup_stats,
    chunk_documents,
)

W, D, SALT = 16, 64, "cdcc:"


def _cuts_ref(text: str) -> list[int]:
    out = []
    for i in range(W, len(text)):  # 1-based cut positions [W, len-1]
        win = text[i - W : i]
        h = int(hashlib.md5((SALT + win).encode()).hexdigest()[:8], 16)
        if h % D == 0:
            out.append(i)
    return out


def _chunks_ref(text: str) -> list[str]:
    bounds = _cuts_ref(text) + [len(text)]
    out, s = [], 0
    for e in bounds:
        out.append(text[s:e])
        s = e
    return out


def test_chunks_match_reference(spark):
    import random

    rng = random.Random(7)
    texts = [
        "".join(rng.choice("abcdef \n") for _ in range(n))
        for n in (0, 1, 15, 16, 17, 200, 1500)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, dict[int, str]] = {}
    for r in chunk_documents(df).collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk
    for i, t in enumerate(texts):
        if len(t) == 0:
            assert i not in got
            continue
        want = _chunks_ref(t)
        assert [got[i][k] for k in sorted(got[i])] == want, i
        assert "".join(want) == t  # chunks reassemble the doc


def test_insertion_realigns_boundaries(spark):
    # the content-defined property: an edit near the front leaves the
    # tail chunks identical (fixed-size blocking would shift them all)
    import random

    rng = random.Random(11)
    base = "".join(rng.choice("abcdefgh") for _ in range(4000))
    edited = base[:50] + "INSERTED!" + base[50:]
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = chunk_documents(df).collect()
    h1 = {r.chunk_md5 for r in rows if r.doc_id == 1}
    h2 = {r.chunk_md5 for r in rows if r.doc_id == 2}
    shared = h1 & h2
    assert len(shared) >= 0.7 * len(h1)  # tail realigned → most shared


def test_dedup_stats_keeper_rule(spark):
    # identical docs: the lower doc_id keeps everything, the higher one
    # is 100% duplicate
    import random

    rng = random.Random(3)
    t = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    df = spark.createDataFrame(
        [(10, t), (20, t)], "doc_id long, text string"
    )
    stats = {r.doc_id: r for r in chunk_dedup_stats(df).collect()}
    n = stats[10].n_chunks
    assert stats[20].n_chunks == n
    assert stats[10].dup_chunks == 0
    assert stats[20].dup_chunks == n
    assert stats[20].dup_chars == len(t)
    assert stats[10].dup_chars == 0


def test_dedup_stats_int_ids_past_32_bit_keys(spark):
    # id·KEY_BASE passes 2^31 for int ids above ~21474: the keeper key
    # must widen before the multiply, or 30000·KEY_BASE wraps negative
    # and the higher id wrongly keeps the shared chunks
    import random

    rng = random.Random(4)
    t = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    df = spark.createDataFrame(
        [(21_000, t), (30_000, t)], "doc_id int, text string"
    )
    stats = {r.doc_id: r for r in chunk_dedup_stats(df).collect()}
    assert stats[21_000].dup_chunks == 0
    assert stats[30_000].dup_chunks == stats[30_000].n_chunks
    assert stats[30_000].dup_chars == len(t)


def test_repeated_content_within_one_doc(spark):
    # a doc that repeats the same long block: later occurrences of the
    # block's interior chunks are duplicates of the first
    import random

    rng = random.Random(5)
    block = "".join(rng.choice("abcdefgh") for _ in range(1200))
    df = spark.createDataFrame(
        [(1, block * 3)], "doc_id long, text string"
    )
    row = chunk_dedup_stats(df).collect()[0]
    assert row.dup_chunks > 0
    assert row.dup_chars > len(block) // 2
    # keeper key stays in range
    assert row.n_chunks < KEY_BASE


def test_change_stats_classes(spark):
    import random

    rng = random.Random(9)
    base = "".join(rng.choice("abcdefgh ") for _ in range(3000))
    minor = base[:100] + "EDIT" + base[100:]  # small insertion
    major = "".join(rng.choice("zyxwvu") for _ in range(3000))
    old = spark.createDataFrame(
        [(1, base), (2, base), (3, base), (4, base)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base), (2, minor), (3, major), (5, base)],
        "doc_id long, text string",
    )
    from embulk_spark.operators.cdchunk import chunk_change_stats

    got = {r.doc_id: r for r in chunk_change_stats(old, new).collect()}
    assert got[1].change_class == "unchanged"
    assert got[1].change_ratio == 0.0
    assert got[1].shared_chars == len(base)
    assert got[2].change_class == "minor"
    assert 0 < got[2].change_ratio < 0.3
    assert got[3].change_class == "major"
    assert got[4].change_class == "major"  # page emptied (absent new)
    assert got[4].new_chars == 0 and got[4].change_ratio == 1.0
    assert got[5].change_class == "major"  # page created (absent old)
    assert got[5].old_chars == 0


def test_change_stats_repeated_chunk_multiset(spark):
    # multiset semantics: old has a block twice, new has it once — the
    # shared count is min(2, 1), not set-intersection
    import random

    rng = random.Random(13)
    block = "".join(rng.choice("abcdefgh") for _ in range(800))
    old = spark.createDataFrame(
        [(1, block + block)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(1, block)], "doc_id long, text string")
    from embulk_spark.operators.cdchunk import chunk_change_stats

    row = chunk_change_stats(old, new).collect()[0]
    assert row.old_chars == 2 * len(block)
    assert row.new_chars == len(block)
    # the shared multiset is about one block's worth, never two
    assert row.shared_chars <= len(block)
    assert row.shared_chars >= len(block) // 2
