"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language ID, fingerprinting, shingling.

These extend the reference's surface (BASELINE.json north star) — the
reference itself has no text ops. Everything here is built-in Catalyst
expressions (JVM-side, whole-stage codegen); no Python UDFs. Each helper is
written to have an exactly-mirrorable ANSI-SQL form for the DuckDB oracle
(same normalize→split pipeline, same occurrence-count arithmetic).

Scale notes: all per-document expressions are embarrassingly parallel (no
shuffle). The only shuffles in this family are the groupBys in shingling
consumers (dedup.py) — see there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from h2outility_spark.functions import fround

# ---------------------------------------------------------------------------
# Normalization / tokenization
# ---------------------------------------------------------------------------


#: Explicit ASCII-whitespace class: Java regex and RE2 define ``\s``
#: differently (RE2's omits ``\x0B``), so any cross-engine-compared
#: expression must spell the class out character by character. Three
#: escape layers, three renderings:
#:   * WS_CLASS      — handed DIRECTLY to Java regex (F.regexp_replace)
#:                     or embedded in a DuckDB single-quoted literal
#:                     (DuckDB does not unescape, RE2 interprets);
#:   * WS_CLASS_EXPR — embedded in a SPARK SQL string literal (F.expr),
#:                     which unescapes one backslash layer first.
#: Semantically identical to Java's ``\s`` ([ \t\n\x0B\f\r]) — migrating a
#: Spark-side pattern is a no-op; migrating an oracle adds \x0B to RE2's
#: class so the two engines finally agree on it.
WS_CLASS = "[ \\t\\n\\r\\f\\x0B]"
WS_CLASS_EXPR = "[ \\\\t\\\\n\\\\r\\\\f\\\\x0B]"


def normalize_ws(col: Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    return F.trim(F.regexp_replace(col, WS_CLASS + "+", " "))


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    norm = normalize_ws(col)
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(F.split(norm, " ")))


def space_token_count(col: Column) -> Column:
    """Engine-proof whitespace token count: normalize with the EXPLICIT
    whitespace class (no ``\\s`` semantics left to the regex engine), then
    count tokens as spaces+1 by pure length arithmetic — no regex split,
    no array functions, nothing an engine pair can disagree on. 0 for
    blank text. Used where the count must hash-match a foreign engine
    (the driver's oracle comparison), e.g. ``pack_sequences``."""
    norm = F.trim(F.regexp_replace(col, WS_CLASS + "+", " "))
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit(""))) + 1
    )


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, and single
    punctuation marks each count as one token (a BPE-flavored regex split)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def tokens(col: Column) -> Column:
    return F.split(normalize_ws(col), " ")


def shingles_expr(n: int) -> Column:
    """Shingles of the ``text`` column as a pure SQL expression (usable in
    selects that need to stay inside codegen).

    Total on short/blank input: a document with fewer than n tokens yields
    an EMPTY array. The guard matters because Spark's ``sequence(1, 0)``
    is DESCENDING ([1, 0]) rather than empty, and the transform would then
    call ``slice(toks, 0, n)``, which throws INVALID_PARAMETER_VALUE.START
    — one short row would abort the whole job (found by review: any < n
    token benchmark doc crashed decontaminate_spans/contamination_overlap).
    """
    toks = f"split(trim(regexp_replace(text, '{WS_CLASS_EXPR}+', ' ')), ' ')"
    return F.expr(
        f"CASE WHEN size({toks}) < {n} THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')) END"
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics (LM training counts)
# ---------------------------------------------------------------------------


def corpus_ngram_counts(docs):
    """Corpus-wide 3-gram occurrence and document-frequency counts, kept
    when a 3-gram occurs at least twice — the
    count-collection pass of n-gram LM estimation / contamination checks.

    Scale shape: n-grams are built as a per-document ARRAY transform
    (narrow map, no shuffle, stays in codegen) and exploded; the single
    shuffle is the combiner-friendly groupBy(ngram), so shuffle volume is
    |distinct n-grams|, not |token positions|. ``n_docs`` (document
    frequency) rides the same aggregation via count(distinct id) partials.
    """
    from pyspark.sql import functions as F

    grams = docs.select(
        F.col("doc_id"), F.explode(shingles_expr(3)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") >= 2)
    )


def bigram_conditional_probs(docs, min_pair: int = 1):
    """Bigram conditional probabilities P(w2 | w1) = c(w1 w2) / c(w1) over
    the corpus — maximum-likelihood LM estimation. Two combiner-friendly
    aggregations (bigram counts, unigram counts) joined on w1. Both join
    inputs are count tables (|distinct bigrams| and |vocab| rows, far
    smaller than token positions); the join key w1 is skewed toward
    stopwords, but per-key fan-out is bounded by |vocab| and AQE's skew
    split handles the hot keys — no broadcast assumption about vocab size.
    """
    from pyspark.sql import functions as F

    toks = docs.select(F.col("doc_id"), F.explode(shingles_expr(1)).alias("w"))
    uni = toks.groupBy(F.col("w").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    big = (
        docs.select(F.explode(shingles_expr(2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_pair)
        .withColumn("w1", F.split(F.col("bigram"), " ")[0])
    )
    return big.join(uni, "w1").select(
        "bigram",
        "c12",
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("p"),
    )


def doc_lm_fluency(docs):
    """Per-document LM fluency: the mean conditional probability P(w2|w1)
    over the document's bigram positions, under the corpus-trained MLE
    bigram model (self-scoring) — the model-based quality dial that
    separates fluent text from gibberish/boilerplate, complementing the
    surface-ratio heuristics in ``quality_columns``. (Mean probability
    rather than log-perplexity: rank-equivalent for filtering, and exact
    count-ratio arithmetic reproduces bit-identically in the SQL oracle,
    where log() ulp behavior differs between engines.)

    Scale shape: the model IS a count-ratio table (|distinct bigrams|
    rows). Scoring joins the document bigram stream (|token positions|
    rows) against it on the bigram key — one shuffle of positions; the
    stopword-pair skew on that key is AQE-split like every hot-key join
    here. Docs with fewer than 2 tokens have no bigrams and drop out.
    """
    from pyspark.sql import functions as F

    probs = bigram_conditional_probs(docs).select("bigram", "p")
    doc_bigrams = docs.select(F.col("doc_id"), F.explode(shingles_expr(2)).alias("bigram"))
    return (
        doc_bigrams.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.avg("p").alias("lm_score"))
    )


def tfidf_top_terms(docs):
    """Top-3 characteristic terms per document by tf·idf, with
    idf = ln(N / df) (raw MLE form, no smoothing — exact count arithmetic
    plus one ln(), reproducible across engines).

    Scale shape: term frequencies are one groupBy(doc, term) over token
    positions; document frequencies one groupBy(term) over the DISTINCT
    (doc, term) pairs — both combiner-friendly; the join key is the term
    (vocab-bounded fan-out, AQE handles stopword skew); the top-k window
    partitions by doc over |doc|·|distinct terms per doc| rows, never the
    corpus cross product. Deterministic tie-break: higher tf·idf, then
    term string.
    """
    from pyspark.sql import Window as W, functions as F

    toks = docs.select(F.col("doc_id"), F.explode(shingles_expr(1)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_counts, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
        # rank on the ROUNDED score: ln() can differ between engines in the
        # last ulp (e.g. 2*ln(10) vs ln(100) are mathematically equal), and
        # an ulp flip across an unrounded sort key would reorder the top-k;
        # after 6-dp rounding such near-ties become exact ties, broken by
        # the term string identically everywhere
        .withColumn("tfidf", fround(F.col("tfidf"), 6))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def contamination_overlap(docs, benchmark):
    """Train/benchmark decontamination signal: for every training doc, how
    many of its distinct 3-grams also occur anywhere in the benchmark set
    (the GPT-3/Pile-style n-gram overlap check; pipelines drop or redact
    docs above a threshold).

    Scale shape: both sides reduce to DISTINCT n-gram sets before the join
    (shuffle volume is |distinct grams|, not positions); the benchmark side
    is usually tiny relative to the corpus and AQE broadcasts it. Output:
    one row per contaminated doc with its shared-gram count.
    """
    from pyspark.sql import functions as F

    bench_grams = (
        benchmark.select(F.explode(shingles_expr(3)).alias("gram")).distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"), F.explode(shingles_expr(3)).alias("gram")
    ).distinct()
    return (
        doc_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def hash_sample(docs, percent: int):
    """Deterministic content-free sampling: keep a doc iff the first 4 hex
    digits of md5(id) fall under ``percent``% of the 16-bit space.

    At 100 TB this is THE sampling primitive — reproducible across runs,
    engines and partitionings (no RNG state), cheap (narrow map), and
    composable into stratified designs by giving each stratum its own
    ``percent``. md5 is identical in Spark and DuckDB, which the oracle
    equality demonstrates.
    """
    from pyspark.sql import functions as F

    bucket = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT)")
    return docs.filter(bucket < (65536 * percent) // 100)


def hash_split(docs):
    """Deterministic train/val/test assignment — ``hash_sample``'s sibling
    for the other standard training-data split shape. The id is md5-hashed
    into a 16-bit domain (4 hex chars = 65536 values, like ``hash_sample``)
    and bucketed into 10 cells (8 train, 1 val, 1 test) modulo that
    domain, so the ratios are APPROXIMATE: 65536 % 10 cells receive one
    extra hash value — a bias of at most 1/65536 per cell. Each doc gets a
    ``split`` label; no RNG state, so the assignment is stable across runs,
    engines and repartitionings, and a doc can never migrate between splits
    when the corpus grows (the property that prevents silent train/test
    contamination across dataset versions). Narrow map, zero shuffles.
    """
    from pyspark.sql import functions as F

    cell = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10")
    split = (
        F.when(cell < 8, F.lit("train"))
        .when(cell < 9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def shard_expr_sql(n_shards: int) -> str:
    """Portable SQL for the deterministic md5-cell shard of ``doc_id``: the
    first 8 md5 hex chars (a 32-bit value) modulo ``n_shards``. THE single
    definition of the shard derivation — the sharded RAG-prep pairs and
    their oracles must agree on it, so a change here is a change
    everywhere at once (never fork it)."""
    return f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % {n_shards}"


def pack_sequences(docs, budget_tokens: int):
    """Training-sequence packing plan: assign docs (in deterministic id
    order) to context-window bins of ``budget_tokens`` via the exclusive
    prefix sum of token counts — the standard streaming approximation of
    greedy packing (a doc may straddle its bin boundary and is charged to
    the bin its first token lands in). Integer arithmetic end to end, so
    the oracle matches exactly. Token counts use ``space_token_count``
    (explicit whitespace class + spaces+1 length arithmetic) so the count
    is bit-identical in any SQL engine that mirrors the same two string
    primitives — a regex-split count is NOT (``\\s`` and empty-split
    semantics vary by engine).

    Scale note: the prefix sum is a single global-order window — fine up
    to one executor's sort capacity, and the right contract when the
    GLOBAL packing order is the deliverable.
    """
    from pyspark.sql import Window as W, functions as F

    toks = docs.select(
        F.col("doc_id"), space_token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    binned = toks.withColumn(
        "prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("bin_id", F.expr(f"prefix div {budget_tokens}"))
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------


def quality_columns() -> list[Column]:
    """Length / alpha / digit / punctuation ratios + token stats of ``text``.

    All ratios guard the empty-string case to 0.0 so the columns are total
    functions (keeps the oracle SQL total too).
    """
    c = F.col("text")
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double")
    space = F.length(F.regexp_replace(c, "[^ ]", "")).cast("double")
    safe_n = F.when(n > 0, n)
    return [
        F.length(c).alias("n_chars"),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.coalesce(alpha / safe_n, F.lit(0.0)).alias("alpha_ratio"),
        F.coalesce(digit / safe_n, F.lit(0.0)).alias("digit_ratio"),
        F.coalesce(space / safe_n, F.lit(0.0)).alias("space_ratio"),
    ]


def calibration_score_col() -> Column:
    """The cheap calibration quality score (alpha ratio blended with
    length saturation) shared by the per-source calibration query, the
    corpus pipeline's quality gate, and the streaming drift monitor —
    one definition so the three surfaces cannot drift."""
    c = F.col("text")
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.coalesce(alpha / F.when(n > 0, n), F.lit(0.0))
    sat = F.least(token_count(c).cast("double") / F.lit(80.0), F.lit(1.0))
    return F.lit(0.6) * alpha_ratio + F.lit(0.4) * sat


def quality_sql_columns() -> str:
    """The DuckDB-mirror of quality_columns (identical arithmetic)."""
    return f"""
           length(text) AS n_chars,
           CASE WHEN length(trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'))) = 0 THEN 0
                ELSE array_length(regexp_split_to_array(trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g')), ' ')) END
             AS n_tokens,
           array_length(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                    / (CASE WHEN length(text) > 0 THEN CAST(length(text) AS DOUBLE) END), 0.0) AS alpha_ratio,
           coalesce(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                    / (CASE WHEN length(text) > 0 THEN CAST(length(text) AS DOUBLE) END), 0.0) AS digit_ratio,
           coalesce(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                    / (CASE WHEN length(text) > 0 THEN CAST(length(text) AS DOUBLE) END), 0.0) AS space_ratio
    """


# ---------------------------------------------------------------------------
# Language identification (stopword-hit heuristic)
# ---------------------------------------------------------------------------

# Marker words per language, scored by padded-occurrence counting. Order is
# the deterministic tie-break (first wins on >=).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "und", "die", "ist"],
    "fr": ["le", "et", "les", "est"],
    "es": ["el", "y", "los", "es"],
    "zh": ["de", "shi", "le", "zai"],
}


def _occurrences(padded: Column, word: str) -> Column:
    pat = f" {word} "
    return (F.length(padded) - F.length(F.regexp_replace(padded, pat, ""))) / F.lit(len(pat))


def langid_score_columns() -> list[Column]:
    """Marker-word hit scores of ``text``, one column per language."""
    padded = F.concat(F.lit(" "), normalize_ws(F.lower(F.col("text"))), F.lit(" "))
    return [
        sum((_occurrences(padded, w) for w in words), F.lit(0.0)).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]


def langid_pred_column() -> Column:
    """Argmax over already-materialized score_{lang} columns with the
    deterministic LANG_MARKERS-order tie-break.

    Kept as a second projection stage on purpose: referencing the score
    COLUMNS (not re-stating the expressions) keeps each heavy regex score
    evaluated once — inlining them into the 20-comparison when-chain blows
    the expression tree up ~20x (measured 40 s vs <1 s on 500 docs).
    """
    langs = list(LANG_MARKERS)
    scores = {lang: F.col(f"score_{lang}") for lang in langs}
    pred = None
    # reversed when-chain so earlier langs win ties; last language is the
    # unconditional fallback (mirrors the SQL CASE ... ELSE)
    for lang in reversed(langs):
        if pred is None:
            pred = F.lit(lang)
            continue
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred.alias("pred_lang")


def langid_sql_columns() -> str:
    padded = f"' ' || trim(regexp_replace(lower(text), '{WS_CLASS}+', ' ', 'g')) || ' '"
    score_exprs = {}
    for lang, words in LANG_MARKERS.items():
        parts = [
            f"(length({padded}) - length(regexp_replace({padded}, ' {w} ', '', 'g'))) / {len(w) + 2}.0"
            for w in words
        ]
        score_exprs[lang] = "0.0 + " + " + ".join(parts)
    langs = list(LANG_MARKERS)
    whens = []
    for lang in langs[:-1]:
        conds = " AND ".join(
            f"({score_exprs[lang]}) >= ({score_exprs[o]})" for o in langs if o != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"
    cols = ",\n       ".join(f"({e}) AS score_{lang}" for lang, e in score_exprs.items())
    return f"{cols},\n       {case} AS pred_lang"


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def fingerprint(col: Column) -> Column:
    """Full-document content fingerprint: md5 of the lowercase normalized
    text. Identical fingerprints == exact duplicates (after normalization)."""
    return F.md5(F.encode(F.lower(normalize_ws(col)), "UTF-8"))


def prefix_fingerprint() -> Column:
    """Fingerprint of the first 8 tokens of ``text`` — catches
    shared-prefix near-dups (boilerplate headers) cheaply."""
    prefix = F.expr(
        f"array_join(slice(split(trim(regexp_replace(text, '{WS_CLASS_EXPR}+', ' ')), ' '), 1, 8), ' ')"
    )
    return F.md5(F.encode(F.lower(prefix), "UTF-8"))


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-document repetition fractions used as LM training-data quality
    gates (the Gopher / MassiveText "repetition" family):

      * ``top_word_frac``    — share of tokens taken by the single most
        frequent token,
      * ``top_bigram_frac``  — share of bigrams taken by the most frequent
        bigram,
      * ``dup_trigram_frac`` — fraction of trigram occurrences that are
        repeats of an earlier trigram (1 - distinct/total).

    Only documents with >= 3 tokens are emitted (all three signals defined).

    Scale: three combiner-friendly groupBys keyed by (doc, ngram) — partial
    aggregation collapses each document's counts map-side, so shuffle volume
    is O(distinct ngrams), then three |docs|-sized aggregates joined on the
    doc id. No Python UDFs, no window over the whole corpus.
    """
    from pyspark.sql import functions as F

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    words = (
        d.select("doc_id", F.explode("__toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_w"), F.sum("c").alias("n_tok"))
    )
    bigram_arr = F.expr(
        "transform(sequence(1, size(__toks) - 1), i -> __toks[i-1] || ' ' || __toks[i])"
    )
    bigrams = (
        d.filter(F.size("__toks") >= 2)
        .select("doc_id", F.explode(bigram_arr).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_b"), F.sum("c").alias("n_bg"))
    )
    trigram_arr = F.expr(
        "transform(sequence(1, size(__toks) - 2), i -> __toks[i-1] || ' ' || __toks[i] || ' ' || __toks[i+1])"
    )
    trigrams = (
        d.filter(F.size("__toks") >= 3)
        .select("doc_id", F.explode(trigram_arr).alias("t"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tg"), F.countDistinct("t").alias("d_tg"))
    )
    return (
        words.filter(F.col("n_tok") >= 3)
        .join(bigrams, "doc_id")
        .join(trigrams, "doc_id")
        .select(
            "doc_id",
            fround(F.col("top_w").cast("double") / F.col("n_tok"), 4).alias("top_word_frac"),
            fround(F.col("top_b").cast("double") / F.col("n_bg"), 4).alias("top_bigram_frac"),
            fround(
                F.lit(1.0) - F.col("d_tg").cast("double") / F.col("n_tg"), 4
            ).alias("dup_trigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-wide segment-level dedup (CCNet-style paragraph dedup, adapted to
# fixed-width token segments because the synthetic corpus has no newlines)
# ---------------------------------------------------------------------------


def segments_expr() -> Column:
    """Split the normalized ``text`` token stream into consecutive 8-token
    segments (last segment may be shorter). Pure Catalyst expression — the slicing
    stays inside codegen; callers filter out empty documents first (Spark's
    ``sequence(1, 0)`` is DESCENDING, so the guard matters)."""
    toks = f"split(trim(regexp_replace(text, '{WS_CLASS_EXPR}+', ' ')), ' ')"
    return F.expr(
        f"transform(sequence(1, CAST(ceil(size({toks}) / 8.0) AS INT)), "
        f"s -> array_join(slice({toks}, (s - 1) * 8 + 1, 8), ' '))"
    )


def segment_dedup(docs: DataFrame) -> DataFrame:
    """CCNet-style corpus-wide segment dedup: hash each 8-token segment,
    keep only the FIRST occurrence corpus-wide (ordered by doc id then
    position), and reassemble each document from its surviving segments.

    Returns (id, clean_text, n_seg_kept); documents whose every segment was
    seen earlier disappear entirely.

    Scale: one shuffle keyed by segment hash (row_number over md5(seg) —
    each hash partition is the duplicate set of one segment, tiny), then one
    groupBy doc id to reassemble. The md5 key keeps shuffle rows narrow: the
    segment text itself rides only to the reassembly stage.
    """
    from pyspark.sql import Window as W, functions as F

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    segs = d.select(
        "doc_id", F.posexplode(segments_expr()).alias("seg_idx", "seg")
    )
    w = W.partitionBy(F.md5(F.encode(F.col("seg"), "UTF-8"))).orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_seg_kept"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Conservative regex subset that behaves identically under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_counts(col: Column) -> list[Column]:
    """Match counts per PII class (email / SSN / US-style phone)."""
    return [
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(col, F.lit(SSN_RE), 0)).alias("n_ssn"),
        F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), 0)).alias("n_phone"),
    ]


def pii_redact(col: Column) -> Column:
    """Replace every email/SSN/phone match with a typed placeholder token.
    SSN runs before phone so the 3-2-4 digit shape is claimed by the more
    specific class first."""
    out = F.regexp_replace(col, EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, SSN_RE, "[SSN]")
    return F.regexp_replace(out, PHONE_RE, "[PHONE]")


# ---------------------------------------------------------------------------
# Span-level decontamination (remove benchmark n-grams, keep the doc)
# ---------------------------------------------------------------------------


def decontaminate_spans(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Surgical decontamination: instead of dropping every training doc
    that shares n-grams with the benchmark (contamination_overlap's
    flag-then-drop), REMOVE exactly the token spans covered by a matching
    3-gram and keep the rest of the document — the higher-yield policy
    when contamination is a quoted snippet inside an otherwise-good doc.

    Output: (id, clean_text, n_removed) per surviving doc; a doc whose
    every token is covered disappears.

    Scale: benchmark reduces to a DISTINCT n-gram set (tiny, broadcast by
    AQE); positional n-grams ride the same per-doc window shuffle the
    shingle pipeline uses; covered-position expansion is n rows per match;
    the anti join and reassembly are both keyed by doc id. No step touches
    corpus x corpus.
    """
    from pyspark.sql import Window as W, functions as F

    bench_grams = (
        benchmark.select(F.explode(shingles_expr(3)).alias("g")).distinct()
    )
    toks = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("i", "w"))
    )
    w = W.partitionBy("doc_id").orderBy("i")
    parts = [F.col("w")] + [F.lead("w", k).over(w) for k in range(1, 3)]
    grams = (
        toks.select(F.col("doc_id"), F.col("i"), *[p.alias(f"__w{k}") for k, p in enumerate(parts)])
        .filter(F.col("__w2").isNotNull())
        .select(F.col("doc_id"), F.col("i"), F.concat_ws(" ", *[F.col(f"__w{k}") for k in range(3)]).alias("g"))
    )
    starts = grams.join(bench_grams, "g").select("doc_id", "i")
    covered = starts.select(
        F.col("doc_id"), F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(2))).alias("i")
    ).distinct()
    kept = toks.join(covered, ["doc_id", "i"], "left_anti")
    totals = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_tok"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "clean_text",
            (F.col("__n_tok") - F.col("__n_kept")).cast("long").alias("n_removed"),
        )
    )


def chunk_sliding(docs: DataFrame, size: int, stride: int) -> DataFrame:
    """Sliding-window chunking: ``size``-token windows every ``stride``
    tokens — the RAG-retrieval / context-window shape (overlap =
    size − stride keeps boundary sentences visible to both neighbors),
    complementing ``segments_expr`` (fixed, disjoint) and ``cdc_segments``
    (content-defined). A trailing window is emitted only if its
    predecessor did not already reach the document's end, so chunk sets
    are minimal and deterministic. Blank documents yield no chunks.

    Returns (id, chunk_idx, start_tok, n_tokens, chunk_text); chunk_idx is
    0-based in start order. Scale shape: one narrow map + posexplode, no
    shuffle — chunking 100 TB is embarrassingly parallel and stays fully
    inside codegen (split/sequence/slice built-ins, no UDF).
    """
    # size/stride are interpolated into SQL expression strings below —
    # coerce to int (rejecting injection-shaped inputs) and fail fast on
    # values sequence() would reject with an opaque runtime error
    size = int(size)
    stride = int(stride)
    if size < 1 or stride < 1:
        raise ValueError(f"chunk_sliding requires size >= 1 and stride >= 1, got size={size} stride={stride}")
    # Staged selects: the tokenizer (regexp_replace + split) and the token
    # count become real attributes BEFORE the generator references them.
    # Inlining them (the old one-select form) re-evaluated the regexp ~5x
    # per document inside the non-codegen Generate node — and once more per
    # SEQUENCE ELEMENT inside the filter lambda — plus twice per chunk in
    # the downstream projection. CollapseProject keeps the stages apart
    # because each alias is referenced more than once by non-cheap
    # expressions (SPARK-36718); now the regexp and split run once per doc.
    cleaned = docs.select(F.col("doc_id"), normalize_ws(F.col("text")).alias("__clean"))
    toked = cleaned.select(F.col("doc_id"), F.split(F.col("__clean"), " ").alias("__toks"), F.col("__clean"))
    counted = toked.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.when(F.length("__clean") == 0, F.lit(0)).otherwise(F.size("__toks")).alias("__n"),
    )
    started = counted.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.col("__n"),
        F.expr(
            f"CASE WHEN __n = 0 THEN array() "
            f"ELSE filter(sequence(0, __n - 1, {stride}), s -> s = 0 OR s - {stride} + {size} < __n) END"
        ).alias("__starts"),
    )
    # posexplode_outer + explicit null filter, NOT posexplode: for a plain
    # generate, InferFiltersFromGenerate synthesizes size(__starts) > 0 and
    # predicate pushdown re-inlines the whole staged pipeline (tokenizer
    # per lambda element) into a Filter below the projects — the exact
    # O(tokens²) hazard the staging exists to avoid. The rule skips outer
    # generates; the null filter references generator output so it stays put.
    base = started.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.col("__n"),
        F.posexplode_outer(F.col("__starts")).alias("chunk_idx", "start_tok"),
    ).filter(F.col("start_tok").isNotNull())
    return base.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(size), F.col("__n") - F.col("start_tok")).cast("long").alias("n_tokens"),
        F.array_join(F.expr(f"slice(__toks, start_tok + 1, {size})"), " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (Rabin-style boundaries on the token stream)
# ---------------------------------------------------------------------------


def cdc_segments(docs: DataFrame) -> DataFrame:
    """Content-defined segmentation: a token position starts a new segment
    when the hash of its 2-token context satisfies hash % 8 == 0 —
    so boundaries follow CONTENT, not offsets. An insertion near the start
    of a document only perturbs segments up to the next boundary, where
    fixed-width segmentation (segments_expr) shifts every downstream
    segment — CDC is what makes segment-level dedup robust to prefix edits
    (the rsync/LBFS boundary trick applied to token streams).

    Output: (id, seg_idx, seg) — average segment length ~= 8 tokens.
    Scale: one per-doc window pass (lag + running sum), shuffle keyed by
    doc id, reused by the downstream groupBy.
    """
    from pyspark.sql import Window as W, functions as F

    toks = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("i", "w"))
    )
    win = W.partitionBy("doc_id").orderBy("i")
    ctx = F.concat_ws(" ", F.lag("w", 1).over(win), F.col("w"))
    bucket = F.expr("CAST(conv(substr(md5(__ctx), 1, 4), 16, 10) AS INT)")
    marked = toks.withColumn("__ctx", ctx).withColumn(
        "__bnd", F.when((F.col("i") > 0) & (bucket % 8 == 0), 1).otherwise(0)
    )
    seg_idx = F.sum("__bnd").over(win.rowsBetween(W.unboundedPreceding, 0))
    segs = marked.withColumn("seg_idx", seg_idx)
    return (
        segs.groupBy("doc_id", "seg_idx")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]),
                " ",
            ).alias("seg")
        )
        .select("doc_id", F.col("seg_idx").cast("long").alias("seg_idx"), "seg")
    )


def cdc_segment_dedup(docs: DataFrame) -> DataFrame:
    """segment_dedup with content-defined boundaries: keep the first
    corpus-wide occurrence of each CDC segment, reassemble documents from
    the survivors. Same keep-first/reassembly machinery as segment_dedup —
    only the segmenter differs."""
    from pyspark.sql import Window as W, functions as F

    segs = cdc_segments(docs)
    w = W.partitionBy(F.md5(F.encode(F.col("seg"), "UTF-8"))).orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_seg_kept"),
    )
