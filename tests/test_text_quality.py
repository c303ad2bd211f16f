"""Unit tests for the text-quality batch: Gopher-style repetition signals,
CCNet-style segment dedup, and PII redaction — crafted inputs where the
expected values are computable by hand (the corpus-level parity lives in
test_oracle_parity via the registered queries)."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from h2outility_spark.operators.text import (
    pii_counts,
    pii_redact,
    repetition_signals,
    segment_dedup,
    segments_expr,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_repetition_signals_hand_computed(spark):
    # "a a a b" -> top word 'a' 3/4; bigrams [a a, a a, a b] -> top 2/3;
    # trigrams [a a a, a a b] -> 2 distinct of 2 -> dup frac 0.
    out = {r["doc_id"]: r for r in repetition_signals(_docs(spark, [(1, "a a a b")])).collect()}
    r = out[1]
    assert r["top_word_frac"] == 0.75
    assert round(r["top_bigram_frac"], 4) == 0.6667
    assert r["dup_trigram_frac"] == 0.0


def test_repetition_signals_degenerate_repeat(spark):
    # "x x x x x": every trigram is "x x x" (3 occurrences, 1 distinct).
    r = repetition_signals(_docs(spark, [(1, "x x x x x")])).collect()[0]
    assert r["top_word_frac"] == 1.0
    assert r["top_bigram_frac"] == 1.0
    assert round(r["dup_trigram_frac"], 4) == 0.6667


def test_repetition_signals_short_docs_excluded(spark):
    out = repetition_signals(_docs(spark, [(1, "a b"), (2, "a b c")])).collect()
    assert [r["doc_id"] for r in out] == [2]


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_segments_expr_partial_tail(spark):
    df = _docs(spark, [(1, _words("w", 18))]).select(segments_expr().alias("segs"))
    assert df.collect()[0]["segs"] == [_words("w", 8), " ".join(f"w{i}" for i in range(8, 16)), "w16 w17"]


def test_segment_dedup_keeps_first_occurrence(spark):
    # doc 1 and doc 2 share 8-token segment A; doc 2 keeps only its novel
    # tail. doc 3 is entirely duplicate segments -> disappears.
    a, c, x = _words("a", 8), _words("c", 8), _words("x", 8)
    docs = _docs(
        spark,
        [
            (1, f"{a} {c}"),
            (2, f"{a} {x}"),
            (3, f"{a} {c}"),
        ],
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["clean_text"] == f"{a} {c}" and out[1]["n_seg_kept"] == 2
    assert out[2]["clean_text"] == x and out[2]["n_seg_kept"] == 1


def test_segment_dedup_preserves_order(spark):
    docs = _docs(spark, [(1, _words("p", 24))])
    r = segment_dedup(docs).collect()[0]
    assert r["clean_text"] == _words("p", 24)


def test_pii_redact_and_counts(spark):
    s = "mail a.b+c@ex-ample.co.uk or 555-123-4567; ssn 078-05-1120, also 555.987.6543"
    df = spark.createDataFrame([Row(text=s)]).select(
        pii_redact(F.col("text")).alias("red"), *pii_counts(F.col("text"))
    )
    r = df.collect()[0]
    assert r["n_email"] == 1 and r["n_ssn"] == 1 and r["n_phone"] == 2
    assert r["red"] == "mail [EMAIL] or [PHONE]; ssn [SSN], also [PHONE]"


def test_pii_redact_ssn_claims_before_phone(spark):
    # 3-2-4 digit shape must become [SSN], never [PHONE].
    df = spark.createDataFrame([Row(text="id 123-45-6789 end")]).select(
        pii_redact(F.col("text")).alias("red")
    )
    assert df.collect()[0]["red"] == "id [SSN] end"


def test_pii_no_false_positives_on_clean_text(spark):
    df = spark.createDataFrame([Row(text="plain words 12-34 a@b nothing")]).select(
        *pii_counts(F.col("text"))
    )
    r = df.collect()[0]
    assert (r["n_email"], r["n_ssn"], r["n_phone"]) == (0, 0, 0)


def test_decontaminate_spans_hand_computed(spark):
    from h2outility_spark.operators.text import decontaminate_spans

    bench = _docs(spark, [(100, "a b c")])
    train = _docs(
        spark,
        [
            (1, "x a b c y"),      # middle span removed -> "x y"
            (2, "a b c"),          # fully covered -> disappears
            (3, "p q r s"),        # untouched
            (4, "a b c a b c z"),  # overlapping matches -> only "z" survives
        ],
    )
    out = {r["doc_id"]: r for r in decontaminate_spans(train, bench).collect()}
    assert set(out) == {1, 3, 4}
    assert out[1]["clean_text"] == "x y" and out[1]["n_removed"] == 3
    assert out[3]["clean_text"] == "p q r s" and out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "z" and out[4]["n_removed"] == 6


def test_cdc_dedup_robust_to_prefix_insertion_where_fixed_is_not(spark):
    """The CDC motivation, demonstrated: inserting ONE token at the front
    of a duplicated document shifts every fixed-width segment (so fixed
    segment_dedup dedups nothing), while content-defined boundaries
    re-align after the insertion (so cdc_segment_dedup drops the shared
    tail segments)."""
    from h2outility_spark.operators.text import cdc_segment_dedup

    words = [f"w{i}" for i in range(60)]
    original = " ".join(words)
    shifted = "NEW " + original
    docs = _docs(spark, [(1, original), (2, shifted)])

    fixed = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    # offset shift -> no 8-token window of doc 2 equals any of doc 1's
    assert fixed[2]["clean_text"] == shifted

    cdc = {r["doc_id"]: r for r in cdc_segment_dedup(docs).collect()}
    assert cdc[1]["clean_text"] == original  # first occurrence intact
    kept2 = cdc[2]["clean_text"].split()
    assert len(kept2) < len(shifted.split())  # shared tail segments dropped
    assert kept2[0] == "NEW"                  # the novel prefix survives


def test_operators_handle_empty_and_unicode_text(spark):
    """Edge hardening: blank/whitespace-only docs drop out of the
    token-based operators instead of crashing or emitting junk; unicode
    survives normalization, segmentation, and fingerprint-keyed dedup."""
    from h2outility_spark.operators.text import repetition_signals

    docs = _docs(
        spark,
        [
            (1, ""),
            (2, "   "),
            (3, " ".join(["héllo wörld"] * 8)),
            (4, " ".join(["日本語 テスト"] * 8 + ["日本語"])),
        ],
    )
    rep = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert set(rep) == {3, 4}
    assert rep[3]["top_word_frac"] == 0.5

    seg = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    assert set(seg) == {3, 4}
    # doc-INTERNAL repeats collapse too (keep-first is corpus-wide)
    assert seg[3]["clean_text"] == " ".join(["héllo wörld"] * 4)
    assert seg[4]["clean_text"] == " ".join(["日本語 テスト"] * 4 + ["日本語"])


def test_pii_counts_null_text_stays_null_parity_shaped(spark):
    """A NULL text column yields NULL counts (not 0, not an error) — the
    same thing the DuckDB oracle produces, so a future corpus with nulls
    hash-matches instead of crashing."""
    from pyspark.sql.types import StringType, StructField, StructType

    df = spark.createDataFrame(
        [(None,)], StructType([StructField("text", StringType(), True)])
    ).select(*pii_counts(F.col("text")))
    r = df.collect()[0]
    assert (r["n_email"], r["n_ssn"], r["n_phone"]) == (None, None, None)


def test_space_token_count_matches_token_count_on_plain_spaces(spark):
    """On 0x20-only whitespace (the entire synthetic corpus) the
    engine-proof count must equal the regex-split count exactly."""
    from h2outility_spark.operators.text import space_token_count, token_count

    docs = _docs(
        spark,
        [(1, ""), (2, "   "), (3, "one"), (4, "  a  b   c "), (5, "w1 w2 w3 w4 w5")],
    )
    rows = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("a"),
        space_token_count(F.col("text")).alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in rows), rows
    assert {r["doc_id"]: r["b"] for r in rows} == {1: 0, 2: 0, 3: 1, 4: 3, 5: 5}


def test_space_token_count_explicit_class_covers_all_ascii_ws(spark):
    """Tabs, newlines, CR, FF and VERTICAL TAB all separate tokens — \\x0B
    is the char RE2's \\s omits while Java's includes it, which is exactly
    why the packing query spells the class out."""
    from h2outility_spark.operators.text import space_token_count

    docs = _docs(spark, [(1, "a\tb\nc\rd\fe\x0bf"), (2, "\t \n \x0b ")])
    out = {r["doc_id"]: r["n"] for r in
           docs.select("doc_id", space_token_count(F.col("text")).alias("n")).collect()}
    assert out == {1: 6, 2: 0}


def test_chunk_sliding_edges(spark):
    """Window arithmetic edges: blank -> no chunks; shorter-than-size ->
    one full-doc chunk; exact multiples -> no redundant trailing window;
    overlap text shared between neighbors."""
    from pyspark.sql import Row

    from h2outility_spark.operators.text import chunk_sliding

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="   "),                      # blank
            Row(doc_id=2, text="a b c"),                    # 3 toks < size
            Row(doc_id=3, text=" ".join(f"t{i}" for i in range(8))),   # n=8=size -> 1 chunk
            Row(doc_id=4, text=" ".join(f"t{i}" for i in range(9))),   # n=9 -> starts 0,4
            Row(doc_id=5, text=" ".join(f"t{i}" for i in range(12))),  # n=12 -> 0,4; 8 would be
                                                                       # redundant (4+8 >= 12)
        ]
    )
    out = chunk_sliding(docs, size=8, stride=4).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc
    assert [(r["start_tok"], r["n_tokens"]) for r in by_doc[2]] == [(0, 3)]
    assert by_doc[2][0]["chunk_text"] == "a b c"
    assert [(r["start_tok"], r["n_tokens"]) for r in by_doc[3]] == [(0, 8)]
    assert [(r["start_tok"], r["n_tokens"]) for r in by_doc[4]] == [(0, 8), (4, 5)]
    assert [(r["start_tok"], r["n_tokens"]) for r in by_doc[5]] == [(0, 8), (4, 8)]
    # overlap: chunk 1 of doc 4 starts inside chunk 0's text
    assert by_doc[4][1]["chunk_text"].split(" ")[0] == "t4"
    # chunk_idx is dense 0..k
    assert [r["chunk_idx"] for r in by_doc[5]] == [0, 1]


def test_chunk_sliding_rejects_degenerate_and_injection_shaped_params(spark):
    """size/stride are interpolated into SQL expressions: non-integer
    inputs must be coerced or rejected at function entry, and values
    sequence() would choke on (stride=0, size=0) must raise a clear
    ValueError instead of an opaque Spark runtime error."""
    import pytest
    from pyspark.sql import Row

    from h2outility_spark.operators.text import chunk_sliding

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    for bad in ((0, 4), (8, 0), (-1, 4), (8, -2)):
        with pytest.raises(ValueError):
            chunk_sliding(docs, size=bad[0], stride=bad[1])
    with pytest.raises((ValueError, TypeError)):
        chunk_sliding(docs, size="8; DROP TABLE x", stride=4)
    # numeric strings coerce (int()) rather than reaching the SQL string
    out = chunk_sliding(docs, size="8", stride="4").collect()
    assert len(out) == 1 and out[0]["n_tokens"] == 3


def test_hash_split_total_disjoint_and_growth_stable(spark):
    """hash_split's three laws: (a) total — every doc gets exactly one
    split label from {train,val,test}; (b) deterministic across
    repartitioning; (c) GROWTH-STABLE — a doc's split never changes when
    the corpus around it grows, the property that prevents silent
    train/test contamination across dataset versions."""
    from pyspark.sql import Row

    from h2outility_spark.operators.text import hash_split

    small = spark.createDataFrame([Row(doc_id=i) for i in range(100)])
    big = spark.createDataFrame([Row(doc_id=i) for i in range(1000)])

    s = {r["doc_id"]: r["split"] for r in hash_split(small).collect()}
    assert set(s) == set(range(100))
    assert set(s.values()) <= {"train", "val", "test"}
    # deterministic under a different physical layout
    s2 = {r["doc_id"]: r["split"] for r in hash_split(small.repartition(7)).collect()}
    assert s == s2
    # growth-stable: the same ids keep their split inside the 10x corpus
    b = {r["doc_id"]: r["split"] for r in hash_split(big).collect()}
    assert all(b[i] == s[i] for i in range(100))
    # the 8/1/1 cells actually split (loose sanity, not a ratio assert)
    assert len(set(b.values())) == 3
