"""Driver-facing query registry: one Spark callable per implemented
operator (SURVEY.md §2), each with a DuckDB oracle twin in oracle.py.

Every callable takes (spark, sf_dir) and returns a DataFrame whose column
names match the oracle exactly (the driver's compare sorts columns by name
before hashing).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import fixtures
from .config import STOPLIST
from .functions.text import fingerprint, quality_score
from .operators import dedup, events, similarity
from .operators.curation import rank_candidates
from .operators.linking import exact_normalized_links, fuzzy_candidates, link_cascade
from .operators.mentions import distinct_mentions, extract_mentions, valid_turns
from .pipeline import compute_metrics, mappings_from_links, merge_mapping_databases, run_pipeline
from .sources.dictionary import demo_previous_mappings, demo_terms, demo_xrefs
from .sources.transcripts import derive_transcripts


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pipeline(spark: SparkSession, sf_dir: str):
    return run_pipeline(spark, derive_transcripts(spark, sf_dir))


# --- KG pipeline queries -------------------------------------------------


def kg_transcripts(spark, sf_dir):
    return derive_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def kg_valid_turns(spark, sf_dir):
    return valid_turns(derive_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "text"
    )


def kg_mentions(spark, sf_dir):
    return extract_mentions(derive_transcripts(spark, sf_dir), fixtures.mention_vocabulary())


def kg_distinct_mentions(spark, sf_dir):
    return distinct_mentions(kg_mentions(spark, sf_dir))


def kg_exact_links(spark, sf_dir):
    exact, _, _ = exact_normalized_links(kg_distinct_mentions(spark, sf_dir), demo_terms(spark))
    return exact


def kg_fuzzy_candidates(spark, sf_dir):
    terms = demo_terms(spark)
    _, _, unresolved = exact_normalized_links(kg_distinct_mentions(spark, sf_dir), terms)
    return fuzzy_candidates(unresolved, terms).select(
        "mention_norm", "term_id", "label_norm", "in_ontology", "is_current", "lev", "confidence"
    )


def kg_links(spark, sf_dir):
    links, _, _ = link_cascade(kg_distinct_mentions(spark, sf_dir), demo_terms(spark), demo_xrefs(spark))
    return links


def kg_unmapped(spark, sf_dir):
    dm = kg_distinct_mentions(spark, sf_dir)
    _, _, unresolved = link_cascade(dm, demo_terms(spark), demo_xrefs(spark))
    return unresolved.join(dm, "mention_norm", "inner").select(
        "mention_norm", "freq", "occurrences", "n_conversations"
    )


def kg_triples(spark, sf_dir):
    return _pipeline(spark, sf_dir).triples


def kg_mapping_merge(spark, sf_dir):
    res = _pipeline(spark, sf_dir)
    new = mappings_from_links(res.links, demo_terms(spark))
    return merge_mapping_databases(demo_previous_mappings(spark), new)


def kg_best_candidate(spark, sf_dir):
    cands = kg_fuzzy_candidates(spark, sf_dir)
    return (
        rank_candidates(cands)
        .filter(F.col("rank") == 1)
        .select("mention_norm", "term_id", "confidence", "rank")
    )


def kg_metrics(spark, sf_dir):
    res = _pipeline(spark, sf_dir)
    return compute_metrics(spark, res).select("counter", "value")


def kg_curation(spark, sf_dir):
    """W2-W4 + F11/F12 + the round-4 decoration — the manual-curation sheet
    end-to-end: one row per (unresolved mention x previously-used mapping)
    with frequency, 'NT expansion' notes (mentions co-occurring with
    repeat-expansion variants, output.py:51-53), previous / exact /
    replacement mapping cells (create_table_for_manual_curation.py:13-41)
    and up to 50 best-first packed candidate cells
    'term|label|confidence|status' (:49-57,96-107), ordered by the
    reference's (notes, freq) descending (:103). The array cell column is
    ';'-packed so the value-hash compare is portable."""
    from .operators.curation import curation_table
    from .operators.records import with_record_attrs
    from .sources.dictionary import demo_previous_mappings

    # persist_extracted: this query consumes the extraction THREE times
    # (cascade distinct path, nt_mentions, the curation sheet's
    # distinct-mention join), so caching the one corpus-scan table wins
    # where the two-consumer flagship path prefers recompute (round 6)
    res = run_pipeline(spark, derive_transcripts(spark, sf_dir), persist_extracted=True)
    # NT-expansion association from the SAME extraction pass the pipeline
    # made: mentions appearing in valid measured turns whose variant is a
    # repeat expansion (trait.associated_with_nt_expansion analog)
    nt_mentions = (
        with_record_attrs(res.extracted)
        .filter(F.col("valid") & F.col("has_measure") & F.col("is_repeat_expansion"))
        .select(F.explode("ms").alias("m"))
        .select(F.col("m.mention_norm").alias("mention_norm"))
        .filter(~F.col("mention_norm").isin(*sorted(STOPLIST)))
        .distinct()
    )
    decorated = curation_table(
        res.unresolved,
        res.candidates,
        res.distinct,
        previous_mappings=demo_previous_mappings(spark),
        terms=demo_terms(spark),
        nt_mentions=nt_mentions,
    )
    return decorated.select(
        "mention_norm",
        "freq",
        "notes",
        "previous_mapping",
        "exact_mapping",
        "replacement_mapping",
        F.concat_ws(";", "candidates").alias("candidates_packed"),
    )


@lru_cache(maxsize=4)
def _curated_mappings(spark):
    # single-slice + memoized, like the demo ontology dictionaries
    from .schemas import TRAIT_MAPPINGS
    from .sources.dictionary import local_df

    return local_df(spark, fixtures.CURATED_MAPPINGS, TRAIT_MAPPINGS)


def kg_curated_triples(spark, sf_dir):
    from .operators.evidence import curated_mapping_join

    return curated_mapping_join(kg_mentions(spark, sf_dir), _curated_mappings(spark))


def kg_grouped_by_term(spark, sf_dir):
    from .operators.evidence import group_mentions_by_term

    grouped = group_mentions_by_term(kg_mentions(spark, sf_dir), _curated_mappings(spark))
    return grouped.select(
        "conv_id",
        "turn_idx",
        "term_id",
        "representative_mention",
        F.concat_ws(",", "grouped_mentions").alias("grouped"),
        "n_occurrences",
    )


def kg_annotated(spark, sf_dir):
    """S8 — enrichment write-back: originals + packed annotation cells
    (array packed to a string so the value-hash comparison is portable)."""
    from .operators.annotate import annotate_transcripts

    res = _pipeline(spark, sf_dir)
    annotated = annotate_transcripts(res.transcripts, res.triples)
    # pack first, then sort the packed strings, so the order matches the
    # oracle's plain string sort
    packed = F.concat_ws(
        ";",
        F.array_sort(
            F.transform(
                "annotations",
                lambda a: F.concat_ws("|", a["mention"], a["term_id"], a["pred"], a["match_type"]),
            )
        ),
    )
    return annotated.select(
        "conv_id", "turn_idx", "text", packed.alias("annotations_packed")
    )


# --- record-model queries (round 2: S5/J4, classification, P4, J5/J6) ----


def _record_frame(spark, sf_dir):
    """Per-turn record frame: one extraction pass + record attrs + in-row
    disease groups (zero shuffle end to end)."""
    from .operators.evidence import with_disease_groups
    from .operators.mentions import extract_turn_mentions
    from .operators.records import with_record_attrs

    t = derive_transcripts(spark, sf_dir)
    ex = extract_turn_mentions(t, fixtures.mention_vocabulary(), include_invalid=True)
    return with_disease_groups(with_record_attrs(ex), fixtures.CURATED_MAPPINGS)


def kg_classification(spark, sf_dir):
    """Clinical-classification analog: review-status -> star score_map +
    normalized significance list (clinical_classification.py:17-29,73-78)."""
    return _record_frame(spark, sf_dir).filter("valid").select(
        "conv_id",
        "turn_idx",
        "review_status",
        "stars",
        "clinical_significances",
        "n_classifications",
    )


def kg_consequences(spark, sf_dir):
    """S5+J4 — the 3-level consequence pairing over valid measures,
    exercising REPEAT/SIMPLE/COMPLEX priority + the MAX_TARGET_GENES guard."""
    from .operators.consequences import consequence_cascade, demo_consequences

    recs = _record_frame(spark, sf_dir).filter(F.col("valid") & F.col("has_measure"))
    cas = consequence_cascade(recs, demo_consequences(spark), keep_unmatched=False)
    return cas.select(
        "conv_id", "turn_idx", "matched_by", "ensembl_gene_id", "gene_symbol", "so_term"
    )


def kg_microsatellite(spark, sf_dir):
    """P8 remainder — microsatellite classification with the 12-base
    REPEAT_EXPANSION_THRESHOLD + the span-form is_repeat_expansion_variant
    predicate (clinvar_measure.py:21,160-183), over the record model's
    synthetic measures (both sides of the threshold exercised)."""
    return (
        _record_frame(spark, sf_dir)
        .filter(F.col("valid") & F.col("has_measure"))
        .select(
            "conv_id",
            "turn_idx",
            "variant_type",
            "vcf_ref",
            "vcf_alt",
            "microsatellite_category",
            "is_repeat_expansion",
        )
    )


def kg_gauntlet(spark, sf_dir):
    """P4 — ordered failure gauntlet: ONE reason column, ONE aggregation
    (clinvar_to_evidence_strings.py:83-176 + report.py:27-37)."""
    from .operators.consequences import consequence_match_flags, demo_consequences
    from .operators.evidence import gauntlet_reason

    recs = consequence_match_flags(_record_frame(spark, sf_dir), demo_consequences(spark))
    return (
        recs.withColumn("reason", gauntlet_reason(F.col("matched_by").isNotNull()))
        .groupBy("reason")
        .agg(F.count("*").alias("n_records"))
    )


def kg_evidence(spark, sf_dir):
    """J5 — the flagship evidence product: gauntlet -> 3-level consequence
    cascade -> origin x disease x consequence explode -> 17-field payload
    with germline/somatic routing. Plan shape: one corpus scan, broadcast
    joins + in-row explodes only."""
    from .operators.consequences import consequence_cascade, demo_consequences
    from .operators.evidence import evidence_product

    recs = _record_frame(spark, sf_dir)
    # NB: no size(valid_names) predicate here — a record with zero valid
    # mentions has an EMPTY disease_groups array, so the explode emits
    # nothing for it anyway. Filtering on it would be redundant AND would
    # force the extraction to run twice (once under the Filter, once in
    # the payload projection — Catalyst does not CSE across the two).
    eligible = recs.filter(
        F.col("valid")
        & (F.col("n_classifications") == 1)
        & F.col("has_valid_significance")
        & F.col("has_measure")
    )
    cas = consequence_cascade(eligible, demo_consequences(spark), keep_unmatched=False)
    return evidence_product(cas)


def kg_feedback(spark, sf_dir):
    """J6 — the variant x trait feedback export (bin/traits_to_zooma_format
    .py:22-39): every (variant_id in {rs, nsv}) x (mapped trait) pair per
    record, with the mapping IRI as the semantic tag. The mapping table is a
    broadcast join side (scale-safe at the 13k-row production size), not a
    plan literal."""
    from .operators.evidence import feedback_export

    recs = _record_frame(spark, sf_dir).filter(F.col("valid") & F.col("has_measure"))
    return feedback_export(recs, _curated_mappings(spark))


def kg_eval_metrics(spark, sf_dir):
    """A5 + J9 — set-comparison metrics of engine links vs a gold standard,
    with synonym bridging, per outcome category (set_metrics.py:27-86 +
    annotated_clinvar.py:161-170)."""
    from .operators.evaluation import evaluate

    links = kg_links(spark, sf_dir)
    gold = (
        spark.createDataFrame(fixtures.EVAL_GOLD, "key string, term_id string")
        .groupBy("key")
        .agg(F.array_sort(F.collect_set("term_id")).alias("gold_terms"))
    )
    got = (
        links.select(F.col("mention_norm").alias("key"), "term_id")
        .groupBy("key")
        .agg(F.array_sort(F.collect_set("term_id")).alias("got_terms"))
    )
    empty = F.array().cast("array<string>")
    pairs = gold.join(got, "key", "outer").select(
        "key",
        F.coalesce("gold_terms", empty).alias("gold_terms"),
        F.coalesce("got_terms", empty).alias("got_terms"),
    )
    bridge = spark.createDataFrame(fixtures.EVAL_BRIDGE, "term_id string, canonical_id string")
    out = evaluate(pairs, synonyms=bridge)
    return out.select(
        "category", "count", F.round("avg_f1", 4).alias("avg_f1_r"), "tp", "fp", "fn"
    )


def kg_descendants(spark, sf_dir):
    """is_a-hierarchy descendants search (the get_children_with_keywords
    analog, reference bin/trait_mapping/get_children_with_keywords.py:26-60):
    bounded-depth first-visit BFS from the EFO:0001 root over the is_a edge
    fixture — diamond children carry their MINIMUM depth, depth-4 nodes and
    the disjoint subtree are excluded — plus the keyword predicate exposed
    as a flag column so the oracle pins the filter semantics too."""
    from .operators.hierarchy import descendants_with_keyword
    from .sources.dictionary import demo_is_a

    out = descendants_with_keyword(
        demo_terms(spark), demo_is_a(spark), root="EFO:0001", keyword=None, max_depth=3
    )
    return out.select(
        "term_id",
        "label",
        "depth",
        F.col("label").contains("merge").alias("matches_merge"),
    )


def hgvs_parse(spark, sf_dir):
    """F5/F6 — HGVS parse + repeat classification over the fixture corpus.
    The oracle is a reference-semantics golden table (fixtures.HGVS_CASES):
    DuckDB's RE2 regex engine cannot express the lookahead these patterns
    need, so the expected outputs are pinned instead of recomputed."""
    from .functions.hgvs import infer_repeat_info, parse_hgvs

    df = spark.createDataFrame([(c[0],) for c in fixtures.HGVS_CASES], "hgvs string")
    h = parse_hgvs(F.col("hgvs"))
    r = infer_repeat_info(F.col("hgvs"))
    return df.select(
        "hgvs",
        h["reference_sequence"].alias("reference_sequence"),
        h["sequence_type"].alias("sequence_type"),
        h["variant_type"].alias("variant_type"),
        h["start"].alias("start"),
        h["stop"].alias("stop"),
        h["repeat_sequence"].alias("repeat_sequence"),
        r["repeat_type"].alias("repeat_type"),
        r["transcript_id"].alias("transcript_id"),
    )


def kg_metadata(spark, sf_dir):
    """S2 — header/metadata scan analog (xml_parsing.py:9-28 ReleaseSet
    attributes; Iceberg table-properties analog): dataset-level facts as
    (key, value) rows from one aggregation."""
    t = derive_transcripts(spark, sf_dir)
    row = t.agg(
        F.count("*").alias("n_turns"),
        F.count_distinct("conv_id").alias("n_conversations"),
        F.min(F.unix_timestamp("ts")).alias("min_ts"),
        F.max(F.unix_timestamp("ts")).alias("max_ts"),
        F.max("turn_idx").alias("max_turn_idx"),
    ).first()
    rows = [
        ("schema_version", "transcripts.v1"),
        ("n_columns", str(len(t.columns))),
        ("n_turns", str(row["n_turns"])),
        ("n_conversations", str(row["n_conversations"])),
        ("min_ts", str(row["min_ts"])),
        ("max_ts", str(row["max_ts"])),
        ("max_turn_idx", str(row["max_turn_idx"])),
    ]
    return spark.createDataFrame(rows, "key string, value string")


def events_most_severe(spark, sf_dir):
    from .operators.cascade import most_severe

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_type")
    ranks = spark.createDataFrame(fixtures.EVENT_SEVERITY, "event_type string, rank int")
    return most_severe(ev, ["user_id"], ranks, "event_type")


# --- training-data pipeline queries --------------------------------------


def text_stats(spark, sf_dir):
    from .functions.text import bpe_ish_token_count, lang_id, rolling_fingerprint

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        lang_id(F.col("text")).alias("lang"),
        fingerprint(F.col("text")).alias("fingerprint"),
        rolling_fingerprint(F.col("text")).alias("winnow_fp"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
    )


def corpus_stats(spark, sf_dir):
    """Per-(source, lang) corpus profiling rollup — the before/after gauge
    of every filtering stage in a training-data pipeline."""
    from .operators.corpus import corpus_stats as _cs

    return _cs(_docs(spark, sf_dir))


def doc_sample(spark, sf_dir):
    """Deterministic ~10% hash sample: membership is a pure function of
    (doc_id, salt) — reproducible across clusters, re-runs, partitionings."""
    from .operators.corpus import hash_sample

    return hash_sample(_docs(spark, sf_dir), pct=10, salt="r4").select("doc_id", "source", "lang")


def corpus_curate(spark, sf_dir):
    """The full curation funnel in one plan: exact-dup canonical ->
    near-dup cluster canonical (MinHash pairs + 3-round label propagation)
    -> quality gate. One row per doc with its first drop reason."""
    from .operators.corpus import curate

    d = _docs(spark, sf_dir)
    clusters = dedup.near_dup_clusters(d, dedup.minhash_candidate_pairs(d), rounds=3)
    return curate(d, clusters, min_quality=0.5)


def text_redact(spark, sf_dir):
    """PII scrubbing pass: redacted text + match count per doc (credential
    URLs, emails, card/government-ID shapes, IPv4s, phone digit runs,
    @handles -> typed placeholders). Both outputs come from ONE shared
    progressive chain, extracted through F.inline so the struct is
    evaluated once per row (no Catalyst CSE across struct-field copies).
    The bundled corpus contains no PII, so the real behavior is pinned by
    the adversarial oracle probes (tests/test_oracle_probes.py), one
    positive and one negative row per pattern family."""
    from .functions.text import redact_with_count

    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.inline(F.array(redact_with_count(F.col("text")))))


def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals per doc: duplicate-token
    fraction, top-token fraction, top-bigram fraction — the boilerplate/
    spam filters length heuristics miss. Fully in-row (zero shuffles);
    struct extracted once via F.inline."""
    from .functions.text import repetition_stats

    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.inline(F.array(repetition_stats(F.col("text")))))


def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: a deterministic ~5% hash sample plays the
    eval suite; every remaining corpus doc is scored by how many of its
    distinct word trigrams appear anywhere in the benchmark set, and
    flagged when >= 2 do. The benchmark shingle set is broadcast — the
    corpus is never shuffled at shingle grain."""
    from .operators.corpus import decontaminate, sample_bucket

    d = _docs(spark, sf_dir)
    is_bench = sample_bucket(F.col("doc_id"), "bench") < 5
    return decontaminate(d.filter(~is_bench), d.filter(is_bench), n=3, min_overlap=2)


def corpus_pack(spark, sf_dir):
    """Sequence packing (concat-and-chunk): deterministic shard, stable
    doc_id order within shard, running token count cut into 128-token
    training windows — each doc's (seq_idx, seq_offset) placement. Sharded
    so the running sum parallelizes; windows never cross shards."""
    from .operators.corpus import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), ctx_len=128, n_shards=8)


def corpus_pack_manifest(spark, sf_dir):
    """The doc-slice -> training-sequence manifest (the writer's input):
    every 128-token window each doc touches, with in-doc and in-sequence
    offsets — integer math over the same sharded placement as
    corpus_pack."""
    from .operators.corpus import pack_manifest

    return pack_manifest(_docs(spark, sf_dir), ctx_len=128, n_shards=8)


def corpus_boilerplate(spark, sf_dir):
    """Duplicate-n-gram-fraction boilerplate scoring: fraction of each
    doc's distinct word trigrams that appear in >= 3 docs corpus-wide;
    docs over 50% shared material get flagged. The frequent-shingle table
    is the only corpus-grain aggregation; shingles build in-row."""
    from .operators.corpus import boilerplate_score

    return boilerplate_score(_docs(spark, sf_dir), n=3, min_df=3, max_frac=0.5)


def corpus_mix(spark, sf_dir):
    """Source mixing toward a 5:3:2 target over three sources, 40 docs
    total: per-source quotas become deterministic hash-bucket thresholds
    (integer math, no RNG, no driver collect); other sources drop out."""
    from .operators.corpus import mix_sources

    return mix_sources(_docs(spark, sf_dir), {"src0": 5, "src1": 3, "src2": 2}, total=40)


def corpus_lm_score(spark, sf_dir):
    """Unigram-LM perplexity proxy: token probabilities trained on the
    corpus itself, every doc scored by mean negative log-likelihood —
    the both-tails quality filter (too probable = boilerplate, too
    improbable = noise)."""
    from .operators.corpus import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def corpus_budget_select(spark, sf_dir):
    """Token-budget selection: greedy best-quality-first prefix until the
    15k-token budget is spent, computed with the banded (parallel) window
    scheme rather than one global corpus sort."""
    from .operators.corpus import select_by_budget

    return select_by_budget(_docs(spark, sf_dir), budget_tokens=15_000)


def corpus_textrank(spark, sf_dir):
    """TextRank keyword scoring: 3 rounds of weighted PageRank over the
    undirected word-adjacency graph, unrolled into one declarative DAG —
    edge counting is the only corpus-grain stage; the iteration runs at
    vocab grain."""
    from .operators.graph import textrank

    return textrank(_docs(spark, sf_dir), n_iter=3, damping=0.85)


def corpus_stratified_k(spark, sf_dir):
    """Exact-quota stratified sample: deterministically the 'first' 5 docs
    per source in content-hash order — per-stratum windows, no global
    sort, identical on any cluster."""
    from .operators.corpus import stratified_sample_k

    return stratified_sample_k(_docs(spark, sf_dir), strata_col="source", k=5)


def corpus_length_quantiles(spark, sf_dir):
    """Per-source token-length quantiles (exact interpolated p25/50/75/95)
    — the length-filter profiling stage."""
    from .operators.corpus import length_quantiles

    return length_quantiles(_docs(spark, sf_dir))


def _nb_split(spark, sf_dir):
    from .operators.corpus import sample_bucket

    d = _docs(spark, sf_dir)
    is_train = sample_bucket(F.col("doc_id"), "nbtrain") < 50
    return d.filter(is_train), d.filter(~is_train)


def classify_nb_scores(spark, sf_dir):
    """Multinomial Naive Bayes train+score as pure aggregation: priors and
    Laplace-smoothed likelihoods trained on a deterministic 50% hash
    split, every held-out doc scored against every class (log posterior,
    rounded) — the closed-form classifier the curation pipeline can
    oracle-check, unlike SGD weights."""
    from .operators.classify import nb_score, nb_train

    train, test = _nb_split(spark, sf_dir)
    priors, likelihoods = nb_train(train, label_col="lang")
    return nb_score(test, priors, likelihoods)


def classify_nb_predict(spark, sf_dir):
    """Argmax over the rounded NB class scores (ties by label name):
    (doc_id, predicted) for every held-out doc."""
    from .operators.classify import nb_predict, nb_score, nb_train

    train, test = _nb_split(spark, sf_dir)
    priors, likelihoods = nb_train(train, label_col="lang")
    return nb_predict(nb_score(test, priors, likelihoods))


def corpus_vocabulary(spark, sf_dir):
    """Vocabulary table for tokenizer training: per lowercased token, total
    occurrences (tf) and document frequency (df) — one explode + one
    partially-aggregated groupBy."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    return toks.groupBy("tok").agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df")
    )


def corpus_vocab_coverage(spark, sf_dir):
    """Zipf coverage curve for tokenizer budgeting: for each candidate
    vocab size k, the fraction of all token OCCURRENCES covered by the k
    most frequent types (ties broken by token text). Corpus-grain work is
    the one vocabulary groupBy; the ranking window runs at Zipf-small
    vocab grain."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    vocab = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    ranked = vocab.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("tf").desc(), "tok"))
    )
    ks = spark.createDataFrame([(8,), (16,), (32,)], "k int")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.round(
                F.sum(F.when(F.col("rank") <= F.col("k"), F.col("tf"))) / F.sum("tf"), 4
            ).alias("coverage"),
            F.max(F.when(F.col("rank") <= F.col("k"), F.col("rank")))
            .cast("int")
            .alias("vocab_used"),
        )
    )


def corpus_bpe_tokenize(spark, sf_dir):
    """The inference half of BPE: train 6 merges (same loop as
    corpus_bpe_merges), then tokenize every doc with the in-row replace
    chain — per-doc BPE token count. Oracle: the unrolled training chain
    carries the word column through, then a LEFT JOIN from docs to the
    final word->symbols vocabulary (docs whose words are all empty keep a
    0 count on both sides)."""
    from .operators.bpe import apply_merges, bpe_merges

    d = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(d, n_merges=6).orderBy("merge_rank").collect()
    ]
    out = apply_merges(d, merges)
    return out.select(
        "doc_id",
        F.size(F.filter("bpe_tokens", lambda t: t != "")).alias("n_bpe_tokens"),
    )


def dedup_incremental_pairs(spark, sf_dir):
    """Incremental (daily-ingest) dedup: a deterministic ~10% hash sample
    plays the 'new batch'; candidates are new-vs-corpus and new-vs-new
    band collisions only — the corpus is never self-paired. Production
    broadcasts the new batch's bands against the materialized corpus
    signature table."""
    from .operators.corpus import sample_bucket

    d = _docs(spark, sf_dir)
    is_new = sample_bucket(F.col("doc_id"), "inc") < 10
    return dedup.incremental_minhash_pairs(d.filter(is_new), d.filter(~is_new))


def corpus_bpe_merges(spark, sf_dir):
    """BPE merge training (6 rounds): the tokenizer-training driver loop —
    per round one vocab-grain pair-count groupBy + a 1-row collect, merges
    applied in-row. Oracle: 6 unrolled CTE layers (the kmeans
    discipline)."""
    from .operators.bpe import bpe_merges

    return bpe_merges(_docs(spark, sf_dir), n_merges=6)


def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def dedup_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir))


def dedup_minhash_pairs(spark, sf_dir):
    return dedup.minhash_candidate_pairs(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.blocked_jaccard_pairs(_docs(spark, sf_dir))


def dedup_shingle_jaccard(spark, sf_dir):
    """Word-BIGRAM shingle Jaccard near-dup — the order-sensitive variant
    of dedup_ngram_jaccard (same blocked equi-join machinery over in-row
    shingle sets)."""
    return dedup.blocked_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8, shingle=2)


def dedup_winnow_pairs(spark, sf_dir):
    """Partial-overlap (shared-substring) candidate pairs via winnowing
    fingerprint sets: docs sharing >= 8 distinct window-min rolling
    hashes, with corpus-frequent fingerprints df-capped out first."""
    return dedup.winnow_substring_pairs(_docs(spark, sf_dir), min_shared=8)


def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def dedup_simhash_pairs(spark, sf_dir):
    return dedup.hamming_near_dups(dedup.simhash(_docs(spark, sf_dir)))


def dedup_clusters(spark, sf_dir):
    """Near-dup clusters + canonical survivors over the MinHash-LSH pair
    graph: 3 rounds of min-label propagation (fixed rounds -> the oracle
    unrolls them as CTE layers, same discipline as ann_kmeans_cells; the
    operator also offers a converge-until-stable driver loop)."""
    d = _docs(spark, sf_dir)
    return dedup.near_dup_clusters(d, dedup.minhash_candidate_pairs(d), rounds=3)


def ann_cosine_topk(spark, sf_dir):
    """Brute-force exact top-k — the small-N verifier for ann_lsh_topk."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_topk(emb, lambda vid: vid < 10, k=5)


def ann_lsh_topk(spark, sf_dir):
    """The ANN scale path (equi-join on hyperplane-LSH bucket) — the
    headline similarity-search query; brute force above verifies it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.lsh_topk(emb, lambda vid: vid < 10, k=5, n_planes=8, dim=64)


def ann_kmeans_cells(spark, sf_dir):
    """Iterative Lloyd k-means (driver loop, 3 rounds) -> per-cell vector
    counts. Because every part of the iteration is deterministic (first-k
    seeding, fixed 3 rounds, argmin tie-breaks), the DuckDB oracle unrolls
    the loop into 3 CTE layers (oracle.py ann_kmeans_cells) — this query IS
    independently verified, on top of the determinism/monotone-inertia
    invariants in tests/test_kmeans.py."""
    from .operators.kmeans import assign_cells, kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents, _ = kmeans(emb, k=4, max_iters=3)
    return (
        assign_cells(emb, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .select("cell", "n_vectors")
    )


def ann_ivf_topk(spark, sf_dir):
    """IVF inverted-file ANN: deterministic coarse quantizer (first 16
    vectors), queries probe their 4 nearest cells; the other scale path
    next to hyperplane LSH."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(emb, lambda vid: vid < 10, k=5, n_cells=16, n_probe=4)


def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN over the Lloyd-refined coarse quantizer: kmeans() (driver
    loop, 3 rounds, k=4 cells) supplies the centroids; assignment + probe
    ranking are in-row math; candidates come from one equi-join on cell.
    Oracle: unrolled-CTE twin sharing the ann_kmeans_cells centroid
    chain."""
    from .operators.kmeans import ivf_kmeans_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_kmeans_topk(emb, lambda vid: vid < 10, k=5, n_cells=4, n_probe=2, max_iters=3)


def dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs via OR-amplified hyperplane LSH
    (8 tables x 6 planes), scored once per candidate, cos >= 0.4 (the
    near-dup band of this corpus's cosine distribution).

    Scale wiring (round-5 10x measurement, BENCH.md scale-curve section):
    fixed 6-bit buckets go quadratic in bucket occupancy as the corpus
    grows — at 10x vectors this query measured ~20x. Production passes
    n_planes=None + n_vectors (table contract) so widths derive via
    lsh_planes_for (measured 5.8x faster at 10x), and raises n_tables
    with the width when low-cosine recall must be held (9 planes x 32
    tables restored fixed-6 recall at equal cost there — the LSH
    rho-exponent tradeoff; at the realistic cos>=0.8 near-dup band the
    compensation is mild). Width 6 IS the derived width at this fixture
    scale, so the demo pins the same formula the scale path uses."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dups(emb, threshold=0.4, dim=64)


def embed_project(spark, sf_dir):
    """Johnson-Lindenstrauss signed random projection 64d -> 16d: in-row
    dot products against a deterministic literal ±1 matrix — the
    dimensionality-reduction front of a project-then-ANN pipeline, zero
    shuffles."""
    from .operators.similarity import project_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return project_embeddings(emb, out_dim=16, in_dim=64)


def events_hourly(spark, sf_dir):
    return events.hourly_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_sessionize(spark, sf_dir):
    return events.sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_asof(spark, sf_dir):
    """Point-in-time join: every purchase annotated with the latest view
    at-or-before it per user (value + event id), via the union-window
    as-of form — one shuffle + one sort, never a range join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    joined = events.asof_join(
        purchases, views, on="user_id", ts_col="ts", value_cols=["value", "event_id"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("value").alias("purchase_value"),
        F.col("value_asof").alias("view_value"),
        F.col("event_id_asof").alias("view_event_id"),
    )


def tpch_q1_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


def orders_by_nation(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # broadcast only the 25-row nation dimension: customer is the
    # 150k x SF side of TPC-H, so customer x orders must stay a shuffled
    # (AQE-decided) join at any real scale factor (round-5 verdict #5 —
    # the old broadcast(customer) contradicted the repo's own discipline)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


QUERIES = {
    "kg_transcripts": kg_transcripts,
    "kg_valid_turns": kg_valid_turns,
    "kg_mentions": kg_mentions,
    "kg_distinct_mentions": kg_distinct_mentions,
    "kg_exact_links": kg_exact_links,
    "kg_fuzzy_candidates": kg_fuzzy_candidates,
    "kg_links": kg_links,
    "kg_unmapped": kg_unmapped,
    "kg_triples": kg_triples,
    "kg_mapping_merge": kg_mapping_merge,
    "kg_best_candidate": kg_best_candidate,
    "kg_metrics": kg_metrics,
    "kg_curation": kg_curation,
    "kg_curated_triples": kg_curated_triples,
    "kg_grouped_by_term": kg_grouped_by_term,
    "kg_annotated": kg_annotated,
    "kg_classification": kg_classification,
    "kg_consequences": kg_consequences,
    "kg_microsatellite": kg_microsatellite,
    "kg_gauntlet": kg_gauntlet,
    "kg_evidence": kg_evidence,
    "kg_feedback": kg_feedback,
    "kg_metadata": kg_metadata,
    "kg_eval_metrics": kg_eval_metrics,
    "kg_descendants": kg_descendants,
    "hgvs_parse": hgvs_parse,
    "events_most_severe": events_most_severe,
    "text_stats": text_stats,
    "corpus_stats": corpus_stats,
    "text_redact": text_redact,
    "corpus_vocabulary": corpus_vocabulary,
    "corpus_vocab_coverage": corpus_vocab_coverage,
    "corpus_curate": corpus_curate,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_pack": corpus_pack,
    "corpus_pack_manifest": corpus_pack_manifest,
    "corpus_boilerplate": corpus_boilerplate,
    "corpus_mix": corpus_mix,
    "corpus_lm_score": corpus_lm_score,
    "corpus_budget_select": corpus_budget_select,
    "classify_nb_scores": classify_nb_scores,
    "classify_nb_predict": classify_nb_predict,
    "corpus_stratified_k": corpus_stratified_k,
    "corpus_length_quantiles": corpus_length_quantiles,
    "corpus_textrank": corpus_textrank,
    "text_repetition": text_repetition,
    "corpus_bpe_merges": corpus_bpe_merges,
    "corpus_bpe_tokenize": corpus_bpe_tokenize,
    "doc_sample": doc_sample,
    "dedup_exact": dedup_exact,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_shingle_jaccard": dedup_shingle_jaccard,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "dedup_incremental_pairs": dedup_incremental_pairs,
    "dedup_clusters": dedup_clusters,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_kmeans_cells": ann_kmeans_cells,
    "ann_ivf_kmeans_topk": ann_ivf_kmeans_topk,
    "embed_project": embed_project,
    "events_hourly": events_hourly,
    "events_sessionize": events_sessionize,
    "events_asof": events_asof,
    "tpch_q1_pricing": tpch_q1_pricing,
    "orders_by_nation": orders_by_nation,
}
