"""Distributed BPE trainer vs an in-test reference implementation with the
same semantics (left-to-right merge application, lowest-(l,r) tie-break)."""

import random

from data_pipeline_spark.functions.bpe import apply_merge, bpe_apply, bpe_train


def ref_apply(seq, left, right, new_id):
    out, carry = [], None
    for x in seq:
        if carry is None:
            carry = x
        elif carry == left and x == right:
            out.append(new_id)
            carry = None
        else:
            out.append(carry)
            carry = x
    if carry is not None:
        out.append(carry)
    return out


def ref_train(seqs, n_merges, new_id_start, min_count=2):
    merges = []
    seqs = [list(s) for s in seqs]
    for rank in range(n_merges):
        counts = {}
        for s in seqs:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        if c < min_count:
            break
        new_id = new_id_start + rank
        merges.append({"rank": rank, "left": l, "right": r, "new_id": new_id, "count": c})
        seqs = [ref_apply(s, l, r, new_id) for s in seqs]
    return merges, seqs


def _corpus(n_docs=120, seed=23):
    rng = random.Random(seed)
    # small alphabet so merges are frequent and chains form (merged ids
    # themselves become mergeable — the part naive implementations miss)
    return [
        (f"d{i:03d}", [rng.randrange(1, 5) for _ in range(rng.randrange(1, 40))])
        for i in range(n_docs)
    ]


def test_bpe_train_matches_reference(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>").repartition(5)
    merges, retok = bpe_train(df, n_merges=14, new_id_start=100)
    ref_merges, ref_seqs = ref_train([t for _, t in rows], 14, 100)
    assert merges == ref_merges
    got = {r["doc_id"]: list(r["tokens"]) for r in retok.collect()}
    exp = {d: ref_seqs[i] for i, (d, _) in enumerate(rows)}
    assert got == exp
    # merged ids must themselves appear inside later merges (chained vocab)
    assert any(m["left"] >= 100 or m["right"] >= 100 for m in merges)


def test_bpe_apply_agrees_with_training_tokenization(spark):
    rows = _corpus(seed=5)
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    merges, retok = bpe_train(df, n_merges=6, new_id_start=50)
    again = bpe_apply(df, merges)
    a = {r["doc_id"]: list(r["tokens"]) for r in retok.collect()}
    b = {r["doc_id"]: list(r["tokens"]) for r in again.collect()}
    assert a == b


def test_apply_merge_overlap_semantics(spark):
    df = spark.createDataFrame([([1, 1, 1, 2, 1, 1],)], "tokens array<int>")
    out = df.select(apply_merge("tokens", 1, 1, 9).alias("t")).collect()[0]["t"]
    # left-to-right: [1,1,1,2,1,1] -> [9,1,2,9]
    assert out == [9, 1, 2, 9]
    # empty + single-element arrays survive the fold
    df2 = spark.createDataFrame([([],), ([4],)], "tokens array<int>")
    got = [r["t"] for r in df2.select(apply_merge("tokens", 1, 1, 9).alias("t")).collect()]
    assert got == [[], [4]]


def test_bpe_train_survives_empty_documents(spark):
    """ADVICE r03 (medium): an empty tokens array used to feed (size-1) = -1
    as the slice length and abort the whole round with
    INVALID_PARAMETER_VALUE.LENGTH.  Empty and single-token docs must be
    pair-free no-ops, and the merge table must be unaffected by them."""
    rows = _corpus(seed=11)
    base = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    with_empty = spark.createDataFrame(
        rows + [("empty", []), ("single", [3])], "doc_id string, tokens array<int>"
    )
    m_base, _ = bpe_train(base, n_merges=6, new_id_start=100)
    m_aug, retok = bpe_train(with_empty, n_merges=6, new_id_start=100)
    assert m_aug == m_base
    got = {r["doc_id"]: list(r["tokens"]) for r in retok.collect()}
    assert got["empty"] == [] and got["single"] == [3]


def test_bpe_weighted_dict_matches_corpus_scan_trainer(spark):
    """VERDICT r03 #2 done-criterion: the weighted unique-sequence-dict
    trainer (per-round cost O(unique sequences)) learns the IDENTICAL merge
    table and final tokenization as the naive full-corpus loop — including
    on a corpus with heavy duplication, where the dict is much smaller than
    the corpus."""
    rows = _corpus(n_docs=40, seed=7)
    # duplicate the corpus 5x under fresh doc_ids: counts scale 5x uniformly,
    # so argmax ties and order are preserved and both trainers must agree
    dup = rows + [
        (f"{d}-copy{k}", list(t)) for k in range(4) for d, t in rows
    ]
    df = spark.createDataFrame(dup, "doc_id string, tokens array<int>").repartition(7)
    m_fast, retok_fast = bpe_train(df, n_merges=10, new_id_start=100, weighted=True)
    m_slow, retok_slow = bpe_train(df, n_merges=10, new_id_start=100, weighted=False)
    assert m_fast == m_slow
    a = {r["doc_id"]: list(r["tokens"]) for r in retok_fast.collect()}
    b = {r["doc_id"]: list(r["tokens"]) for r in retok_slow.collect()}
    assert a == b
    # and both agree with the in-test reference over the duplicated corpus
    ref_merges, _ = ref_train([t for _, t in dup], 10, 100)
    assert m_fast == ref_merges

def test_bpe_apply_arrow_matches_fold_exactly(spark):
    """VERDICT r04 #2: the vectorized mapInPandas kernel (rank-priority
    merge over numpy arrays) must be bit-identical to the Catalyst fold on
    a trained (causal) table — including chained merges, equal-token runs,
    empty/single docs, and NULL rows."""
    rows = _corpus(n_docs=150, seed=41)
    rows += [("empty", []), ("single", [2]), ("run", [1, 1, 1, 1, 1, 2, 1, 1])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    df = df.unionByName(
        spark.createDataFrame([("nul", None)], "doc_id string, tokens array<int>")
    ).repartition(5)
    merges, _ = bpe_train(df, n_merges=12, new_id_start=100, return_corpus=False)
    assert any(m["left"] >= 100 or m["right"] >= 100 for m in merges)  # chained
    a = {r["doc_id"]: r["tokens"] for r in bpe_apply(df, merges, method="arrow").collect()}
    b = {r["doc_id"]: r["tokens"] for r in bpe_apply(df, merges, method="fold").collect()}
    assert a == b
    assert a["nul"] is None and a["empty"] == [] and a["single"] == [2]


def test_bpe_apply_arrow_equal_token_runs(spark):
    """Leftmost-greedy within runs: [1,1,1,2,1,1] + (1,1)->9 == [9,1,2,9],
    and a chained second merge consumes the first's output."""
    df = spark.createDataFrame(
        [("a", [1, 1, 1, 2, 1, 1]), ("b", [1] * 7)], "doc_id string, tokens array<int>"
    )
    m = [{"rank": 0, "left": 1, "right": 1, "new_id": 9, "count": 0},
         {"rank": 1, "left": 9, "right": 9, "new_id": 11, "count": 0}]
    got = {r["doc_id"]: r["tokens"] for r in bpe_apply(df, m, method="arrow").collect()}
    # a: (1,1)->9 gives [9,1,2,9]; no (9,9) adjacency
    assert got["a"] == [9, 1, 2, 9]
    # b: [1]*7 -> [9,9,9,1] -> (9,9)->11 leftmost: [11,9,1]
    assert got["b"] == [11, 9, 1]


def test_bpe_apply_non_causal_table_falls_back_to_fold(spark):
    """A hand-built table violating the causality invariant (pair element
    >= its own new_id) must take the fold path — rank-priority and
    sequential application can diverge there, and the fold defines the
    contract."""
    df = spark.createDataFrame([("a", [1, 2, 3])], "doc_id string, tokens array<int>")
    # left(7) >= new_id(5): non-causal
    m = [{"rank": 0, "left": 7, "right": 2, "new_id": 5, "count": 0}]
    got = bpe_apply(df, m, method="arrow").collect()[0]["tokens"]
    assert got == [1, 2, 3]


def test_bpe_apply_arrow_rejects_negative_tokens(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([("a", [1, -4, 3])], "doc_id string, tokens array<int>")
    m = [{"rank": 0, "left": 1, "right": 3, "new_id": 9, "count": 0}]
    with _pytest.raises(Exception) as e:
        bpe_apply(df, m, method="arrow").collect()
    assert "non-negative" in str(e.value)


def test_bpe_train_validates_apply_method_before_training(spark):
    """A typo'd apply_method must fail in milliseconds, not after the full
    merge loop."""
    import pytest as _pytest

    df = spark.createDataFrame([("a", [1, 2, 1, 2])], "doc_id string, tokens array<int>")
    with _pytest.raises(ValueError, match="unknown bpe_apply method"):
        bpe_train(df, n_merges=4, apply_method="arrrow")


def test_bpe_apply_arrow_keeps_bigint_ids_above_int32(spark):
    """An array<bigint> tokens column with ids past 2^31-1 round-trips the
    Arrow kernel exactly (no silent int32 wrap)."""
    big = 3_000_000_000
    df = spark.createDataFrame(
        [("a", [big, big + 1, big + 2, big, big + 1])], "doc_id string, tokens array<bigint>"
    )
    m = [{"rank": 0, "left": big, "right": big + 1, "new_id": big + 5, "count": 0}]
    got = bpe_apply(df, m, method="arrow").collect()[0]["tokens"]
    assert got == [big + 5, big + 2, big + 5]


def test_bpe_apply_arrow_rejects_new_id_past_element_type(spark):
    """A merge whose new id cannot be stored in an array<int> column raises
    a typed error instead of wrapping to a negative id."""
    import pytest as _pytest

    df = spark.createDataFrame([("a", [1, 2, 3])], "doc_id string, tokens array<int>")
    m = [{"rank": 0, "left": 1, "right": 2, "new_id": 2**31, "count": 0}]
    with _pytest.raises(ValueError, match="does not fit"):
        bpe_apply(df, m, method="arrow").collect()


def test_bpe_apply_fold_matches_arrow_on_bigint_tokens(spark):
    """The Catalyst fold takes the tokens column's element type: on an
    array<bigint> column (ids past 2^31-1, chained and equal-token merges,
    empty and NULL rows) it equals the Arrow kernel, and a non-causal
    table's fold fallback runs on bigint tokens too."""
    big = 3_000_000_000
    df = spark.createDataFrame(
        [
            ("a", [big, big + 1, big + 2, big, big + 1]),
            ("b", [1, 1, 1, 2, 1, 1]),
            ("empty", []),
            ("nul", None),
        ],
        "doc_id string, tokens array<bigint>",
    )
    m = [
        {"rank": 0, "left": big, "right": big + 1, "new_id": big + 5, "count": 0},
        {"rank": 1, "left": 1, "right": 1, "new_id": big + 6, "count": 0},
        {"rank": 2, "left": big + 5, "right": big + 2, "new_id": big + 7, "count": 0},
    ]
    fold = {r["doc_id"]: r["tokens"] for r in bpe_apply(df, m, method="fold").collect()}
    arrow = {r["doc_id"]: r["tokens"] for r in bpe_apply(df, m, method="arrow").collect()}
    assert fold == arrow
    assert fold["a"] == [big + 7, big + 5] and fold["b"] == [big + 6, 1, 2, big + 6]
    assert fold["empty"] == [] and fold["nul"] is None
    non_causal = [{"rank": 0, "left": big + 9, "right": big + 2, "new_id": big + 8, "count": 0}]
    got = bpe_apply(df, non_causal, method="arrow").collect()
    assert {r["doc_id"]: r["tokens"] for r in got}["a"] == [big, big + 1, big + 2, big, big + 1]
