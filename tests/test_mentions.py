"""Mention extraction unit tests.

Mirrors the reference's trait-name parsing tests
(tests/trait_mapping/test_main.py) plus the per-turn text-equality invariant
from BASELINE.json input_hint.
"""

import hashlib

from pyspark.sql import functions as F

from eva_opentargets_spark import fixtures
from eva_opentargets_spark.operators.mentions import (
    distinct_mentions,
    extract_mentions,
    valid_turns,
)

VOCAB = fixtures.mention_vocabulary()


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_unigram_bigram_positions(spark):
    t = _turns(spark, [("c1", 0, "user", "x hash join spark y", None, "2025-01-01 00:00:00")])
    got = {(r.pos, r.mention_norm) for r in extract_mentions(t, VOCAB).collect()}
    # "join" alone is also a synonym-surface unigram (overlaps kept)
    assert got == {(1, "hash join"), (2, "join"), (3, "spark")}


def test_case_normalization(spark):
    # P5 — lookups are case-normalized (main.py:52,57)
    t = _turns(spark, [("c1", 0, "user", "SPARK Hash Join", None, "2025-01-01 00:00:00")])
    got = {r.mention_norm for r in extract_mentions(t, VOCAB).collect()}
    assert got == {"spark", "hash join", "join"}


def test_overlapping_mentions_kept(spark):
    # "sort merge" emits the bigram plus BOTH nested unigrams ("merge" is a
    # label, "sort" is a synonym — both are in the gazetteer surface)
    t = _turns(spark, [("c1", 0, "user", "sort merge", None, "2025-01-01 00:00:00")])
    got = {(r.pos, r.mention_norm) for r in extract_mentions(t, VOCAB).collect()}
    assert got == {(0, "sort merge"), (0, "sort"), (1, "merge")}


def test_stoplist_filter(spark):
    # P2 — NONSPECIFIC_TRAITS analog (clinvar_trait.py:15-18)
    t = _turns(spark, [("c1", 0, "user", "the spark a", None, "2025-01-01 00:00:00")])
    kept = {r.mention_norm for r in extract_mentions(t, VOCAB).collect()}
    assert kept == {"spark"}
    all_m = {r.mention_norm for r in extract_mentions(t, VOCAB, drop_stoplisted=False).collect()}
    assert all_m == {"the", "spark", "a"}


def test_excluded_tool_filter(spark):
    # P3 — submission-name exclusion analog (filtering.py:4-12)
    t = _turns(
        spark,
        [
            ("c1", 0, "tool", "spark", "redacted", "2025-01-01 00:00:00"),
            ("c1", 1, "tool", "spark", "calc", "2025-01-01 00:00:01"),
            ("c1", 2, "user", "", None, "2025-01-01 00:00:02"),
            ("c1", 3, "user", None, None, "2025-01-01 00:00:03"),
        ],
    )
    assert [r.turn_idx for r in valid_turns(t).collect()] == [1]
    got = {(r.turn_idx, r.mention_norm) for r in extract_mentions(t, VOCAB).collect()}
    assert got == {(1, "spark")}


def test_text_equality_invariant(spark):
    # north_rule: extraction must never mutate source text under stable
    # (conv_id, turn_idx) ordering — compare sha256 before/after.
    rows = [("c1", i, "user", f"spark window {i} merge", None, "2025-01-01 00:00:00") for i in range(5)]
    t = _turns(spark, rows)

    def corpus_sha(df):
        rows = df.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
        h = hashlib.sha256()
        for r in rows:
            h.update(f"{r.conv_id}|{r.turn_idx}|{r.text}".encode())
        return h.hexdigest()

    before = corpus_sha(t)
    extract_mentions(t, VOCAB).count()  # run the pipeline
    assert corpus_sha(t) == before


def test_distinct_mention_preagg(spark):
    # A1 — freq counts distinct (conv, turn) pairs (trait_names_parsing.py:24-53)
    t = _turns(
        spark,
        [
            ("c1", 0, "user", "spark spark", None, "2025-01-01 00:00:00"),
            ("c1", 1, "user", "spark", None, "2025-01-01 00:00:01"),
            ("c2", 0, "user", "spark", None, "2025-01-01 00:00:02"),
        ],
    )
    dm = distinct_mentions(extract_mentions(t, VOCAB)).collect()
    row = {r.mention_norm: r for r in dm}["spark"]
    assert row.freq == 3 and row.occurrences == 4 and row.n_conversations == 2


def _token_loop(text, vocab):
    """The reference gazetteer semantics the DuckDB oracles pin: tokens =
    text.lower().split(' '), a unigram hit per vocabulary token, a bigram hit
    per adjacent pair, emitted pos ascending with the unigram first."""
    toks = text.lower().split(" ")
    uni = {w for w in vocab if " " not in w}
    big = {w for w in vocab if " " in w}
    hits = []
    for i, tok in enumerate(toks):
        if tok in uni:
            hits.append((i, tok))
        if i + 1 < len(toks) and tok + " " + toks[i + 1] in big:
            hits.append((i, tok + " " + toks[i + 1]))
    return hits


_TRICKY_VOCAB = ["spark", "merge", "sort", "sort merge", "hash join", "join", "batch!", "a"]
_TRICKY_TEXTS = [
    "sort merge sort merge",          # overlapping unigram + bigram
    "x hash join spark",
    "spark  merge",                   # double space -> empty token
    "sorting sort sorted",            # prefixes must not match
    "batch! a spark",                 # punctuation token, 1-char word
    "hash join join hash",
    "",                               # empty
    "spark",                          # single token
    " spark",                         # leading space
    "spark ",                         # trailing space
    "merge sort merge",               # bigram spanning mid-positions
]


def test_regex_extractor_equals_token_loop(spark):
    """The in-row gazetteer expression equals the token-loop reference row
    for row, ORDER within a turn included, on tricky inputs: overlaps,
    double spaces, prefixes, punctuation tokens, boundaries."""
    from eva_opentargets_spark.operators.mentions import mention_expr

    texts = _TRICKY_TEXTS
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    rows = df.select("i", mention_expr(_TRICKY_VOCAB).alias("e")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        got = [(m["pos"], m["mention_norm"]) for m in r["e"]]
        want = _token_loop(texts[r["i"]], _TRICKY_VOCAB)
        assert got == want, (texts[r["i"]], got, want)


def test_mention_expr_equals_udf(spark):
    """The in-row expression is row-for-row identical, ORDER within a turn
    included, to the token-loop reference run as a Python UDF over the same
    rows — case folding and a repeated one-character unigram included."""
    from eva_opentargets_spark.operators.mentions import MENTION_STRUCT, mention_expr

    texts = _TRICKY_TEXTS + [
        "A SPARK Sort Merge",            # case folding
        "a a a a",                       # repeated single-char unigram
    ]
    uni = {w for w in _TRICKY_VOCAB if " " not in w}
    big = {w for w in _TRICKY_VOCAB if " " in w}

    def loop(text):
        # _token_loop restated here: the UDF runs in workers that cannot
        # import this test module, so it must close over nothing but sets.
        toks = text.lower().split(" ")
        hits = []
        for i, tok in enumerate(toks):
            if tok in uni:
                hits.append((i, tok))
            if i + 1 < len(toks) and tok + " " + toks[i + 1] in big:
                hits.append((i, tok + " " + toks[i + 1]))
        return hits

    reference = F.udf(loop, MENTION_STRUCT)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    rows = df.select(
        "i",
        reference(F.col("text")).alias("u"),
        mention_expr(_TRICKY_VOCAB).alias("e"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        u = [(m["pos"], m["mention_norm"]) for m in r["u"]]
        e = [(m["pos"], m["mention_norm"]) for m in r["e"]]
        assert u == e, (texts[r["i"]], u, e)


def test_large_vocabulary_stays_in_row(spark):
    """Above 10,000 terms extraction still runs as the in-row expression —
    no Python evaluation node in the plan — and matches the token loop."""
    from eva_opentargets_spark.operators.mentions import extract_turn_mentions

    vocab = VOCAB + [f"term{i}" for i in range(9_000)] + [
        f"big{i} gram" for i in range(10_001 - 9_000 - len(VOCAB))
    ]
    assert len(vocab) == 10_001
    texts = [
        "term0 spark big7 gram term8999",
        "Big0 Gram big0 gram term9000",   # term9000 is not in the vocabulary
        "sort merge  term42 hash join",
        "nothing here",
    ]
    t = _turns(spark, [("c1", i, "user", x, None, "2025-01-01 00:00:00") for i, x in enumerate(texts)])
    ex = extract_turn_mentions(t, vocab)
    plan = ex._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    rows = ex.collect()
    assert len(rows) == len(texts)
    for r in rows:
        got = [(m["pos"], m["mention_norm"]) for m in r["ms"]]
        want = _token_loop(texts[r["turn_idx"]], vocab)
        assert got == want, (texts[r["turn_idx"]], got, want)
