"""Corpus-level profiling and sampling operators for training-data
pipelines (engine-new; the reference has no corpus surface — SURVEY.md §2.4
A-series is the aggregation-shape precedent).

Both are one-pass, JVM-side column math:
  * corpus_stats — the profiling rollup a data curator reads before and
    after every filtering stage: per (source, lang) doc counts, token
    volume, length and quality distribution. ONE aggregation (map-side
    partial) over a pruned two-column-plus scan.
  * hash_sample — DETERMINISTIC sampling: membership depends only on
    (doc_id, salt), never on partitioning, executor count, or Spark's RNG
    seeds, so a sample is reproducible across clusters and re-runs and
    composable (the 10% sample of a 50% sample with different salts is an
    unbiased 5%). This is the sampling discipline a 100 TB corpus needs:
    df.sample() re-draws on every action unless seeded AND partitioning-
    stable; a content-hash predicate is pushdown-friendly and stable by
    construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import quality_score, tokens
from ..session import persist


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(source, lang) profiling rollup: docs, token volume, mean doc
    length, mean quality score. One partial-aggregated groupBy."""
    toks = F.size(tokens(F.col(text_col)))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(toks).alias("total_tokens"),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.round(F.avg(F.length(text_col)), 4).alias("avg_chars"),
            F.round(F.avg(quality_score(F.col(text_col))), 4).alias("avg_quality"),
        )
    )


def sample_bucket(id_col, salt: str = "", buckets: int = 100) -> F.Column:
    """Deterministic bucket in [0, buckets): first 8 md5 hex chars of
    '<salt>:<id>' as an int, mod buckets. Identical formula in the DuckDB
    oracle twin."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % buckets


def hash_sample(
    docs: DataFrame, pct: int = 10, id_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep ~pct% of docs by the deterministic content-hash bucket — a
    narrow filter (no shuffle, no RNG state), reproducible anywhere the
    same ids exist."""
    return docs.filter(sample_bucket(F.col(id_col), salt) < pct)


def _word_shingles(text_col: str, n: int) -> F.Column:
    """In-row word n-gram array (the blocked_jaccard_pairs shingle recipe,
    dedup.py:233-236): docs shorter than n tokens contribute ONE short
    shingle of whatever tokens exist."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    if n <= 1:
        return toks
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the eval-leak scrub every LLM training
    corpus runs before training (the n-gram-overlap discipline of GPT-3
    appendix C / PaLM / Llama: a training doc is contaminated if it shares
    >= min_overlap word n-grams with any benchmark/eval document).
    Returns (doc_id, n_contaminated_ngrams, contaminated) for every corpus
    doc; n_contaminated_ngrams counts the doc's DISTINCT shingles that
    appear anywhere in the benchmark set.

    Scale shape: the benchmark side is eval suites — thousands of docs, not
    billions — so its distinct shingle set is BROADCAST; the corpus side is
    one in-row shingle build + explode (map-side, no shuffle) into a
    broadcast-hash semi-join, and the only shuffle in the plan is the
    doc-grain overlap count. The corpus is never self-joined and never
    shuffled at shingle grain."""
    sh = _word_shingles(text_col, n)
    bench_sh = benchmark.select(F.explode(F.array_distinct(sh)).alias("sh")).distinct()
    doc_sh = docs.select("doc_id", F.explode(F.array_distinct(sh)).alias("sh"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("int")
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_contaminated_ngrams"),
            (n_hits >= min_overlap).alias("contaminated"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 128,
    n_shards: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for LLM training — the concat-and-chunk layout:
    docs are concatenated in stable (shard, doc_id) order and the token
    stream is cut into fixed ctx_len windows; each doc learns which
    training sequence it starts in and at what offset. Returns
    (doc_id, shard, n_tokens, seq_idx, seq_offset) where seq_idx is the
    window holding the doc's FIRST token and seq_offset its position
    within that window.

    Scale shape: a single global concatenation order would be one
    unpartitioned window function — a single-task sort at corpus scale.
    Packing is therefore SHARDED: shard = deterministic hash of doc_id
    (reproducible anywhere, like hash_sample), windows never cross shard
    boundaries, and the cumulative sum runs per shard in parallel — in
    production n_shards scales with the cluster (thousands), each shard's
    running sum is one sorted partition, and the waste is bounded by
    < ctx_len tokens per shard tail. Deterministic by construction:
    re-running packing on the same corpus yields byte-identical layouts,
    which is what makes training resumable mid-epoch."""
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = docs.select(
        "doc_id",
        sample_bucket(F.col("doc_id"), "pack", n_shards).cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / ctx_len).cast("int").alias("seq_idx"),
        (start % ctx_len).cast("int").alias("seq_offset"),
    )


def stratified_sample_k(
    docs: DataFrame,
    strata_col: str = "source",
    k: int = 10,
    salt: str = "strat",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY k docs per stratum (or all of a smaller stratum),
    deterministically: rank within each stratum by the md5 of
    '<salt>:<id>' (content-defined, so the sample is identical on any
    cluster and any partitioning — hash_sample's discipline applied to
    quota sampling, where rate-based thresholds only hit quotas in
    expectation). Returns (doc_id, strata, sample_rank).

    Scale shape: one shuffle on the stratum key; the rank window is
    per-stratum so the sort parallelizes across strata — never a global
    order. A skewed giant stratum is the one case to watch: its sort is
    single-partition, the classic remedy being a two-level
    pre-truncation (rank within (stratum, salt-bucket), keep k per
    bucket, re-rank the k*buckets survivors)."""
    from pyspark.sql import Window

    order = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(order, id_col)
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select(id_col, F.col(strata_col).alias("strata"), "sample_rank")
    )


def length_quantiles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source token-length distribution: exact interpolated quantiles
    (p25/p50/p75/p95) — the profiling a curator reads to set length
    filters per source. EXACT percentile (not approx_percentile) so the
    DuckDB twin matches bit-for-bit; one groupBy, the per-group sort is
    stratum-local. At 100 TB swap in approx_percentile and accept the
    epsilon — the operator contract (schema, grouping) is unchanged."""
    from ..functions.text import token_count

    n = token_count(F.col(text_col))
    pcts = F.percentile(n, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(pcts[0], 4).alias("p25"),
        F.round(pcts[1], 4).alias("p50"),
        F.round(pcts[2], 4).alias("p75"),
        F.round(pcts[3], 4).alias("p95"),
    )


def boilerplate_score(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 8,
    max_frac: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-n-gram-fraction quality signal (the Gopher/RefinedWeb
    boilerplate filter, corpus-wide flavor): for every doc, the fraction of
    its DISTINCT word n-gram shingles that are corpus-frequent (appear in
    >= min_df docs). Docs dominated by shared passages — navigation chrome,
    license headers, templated spam — score high and get flagged. Returns
    (doc_id, n_shingles, n_flagged, boilerplate_frac, is_boilerplate).

    Scale shape: shingles are built in-row (no token-grain shuffle on the
    build); the only corpus-grain shuffle is the shingle-df groupBy, which
    partial-aggregates map-side. The frequent-shingle table is bounded by
    total_shingle_mass / min_df — at a production min_df (0.01% of corpus)
    it is a heavy-hitter set, small enough that AQE converts the join-back
    to broadcast; here it stays a plain equi-join so the plan is the same
    shape at any scale. The corpus is never self-joined."""
    sh = _word_shingles(text_col, n)
    # persisted for its two consumers (df aggregation + flag join-back):
    # the in-row shingle build was otherwise evaluated twice (round 6)
    doc_sh = persist(docs.select("doc_id", F.explode(F.array_distinct(sh)).alias("sh")))
    frequent = (
        doc_sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("sh")
    )
    flagged = doc_sh.join(frequent, "sh").groupBy("doc_id").agg(
        F.count("*").alias("n_flagged")
    )
    nf = F.coalesce(F.col("n_flagged"), F.lit(0)).cast("int")
    frac = F.round(nf / F.greatest(F.col("n_shingles"), F.lit(1)), 4)
    return (
        docs.select("doc_id", F.size(F.array_distinct(sh)).cast("int").alias("n_shingles"))
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            nf.alias("n_flagged"),
            frac.alias("boilerplate_frac"),
            (frac >= max_frac).alias("is_boilerplate"),
        )
    )


# Resolution of the mix_sources sampling threshold: quotas are expressed as
# an integer bucket cutoff in [0, MIX_BUCKETS] so the accept test is pure
# integer math — bit-identical in Spark and the DuckDB twin.
MIX_BUCKETS = 1_000_000


def mix_sources(
    docs: DataFrame,
    parts: dict[str, int],
    total: int,
    salt: str = "mix",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain/source mixing — the sampling step that turns a raw crawl into
    a training mixture: `parts` gives integer mixture weights per source
    (e.g. {'web': 6, 'code': 3, 'books': 1}), `total` the target doc count;
    each source is downsampled DETERMINISTICALLY (hash_sample's
    content-hash discipline, never RNG) toward quota_s = total * parts_s /
    sum(parts). Sources with fewer docs than their quota keep everything —
    the shortfall is reported, not silently reallocated. Returns the
    surviving docs with their source's accept threshold attached.

    Scale shape: per-source counts are ONE tiny aggregation (rows = number
    of sources); thresholds are integer math on that table, broadcast back
    onto the corpus; the accept test is a narrow in-row filter. No corpus
    shuffle, no driver-side collect — the mixture spec never leaves the
    plan."""
    if not parts or total <= 0:
        raise ValueError("mix_sources needs a non-empty parts map and total > 0")
    sum_parts = sum(parts.values())
    part_map = F.create_map(
        *[F.lit(x) for kv in parts.items() for x in (kv[0], kv[1])]
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    # threshold_s = min(MIX_BUCKETS, total * parts_s * MIX_BUCKETS / (sum_parts * n_src))
    # — all-integer, exact, and capped at keep-everything.
    thr = F.least(
        F.lit(MIX_BUCKETS).cast("long"),
        F.floor(
            F.lit(total)
            * F.coalesce(part_map[F.col("source")], F.lit(0)).cast("long")
            * F.lit(MIX_BUCKETS)
            / (F.lit(sum_parts) * F.col("n_src"))
        ),
    )
    quotas = counts.select("source", thr.cast("long").alias("accept_threshold"))
    return (
        docs.join(F.broadcast(quotas), "source")
        .filter(
            sample_bucket(F.col(id_col), salt, MIX_BUCKETS) < F.col("accept_threshold")
        )
        .select("doc_id", "source", "accept_threshold")
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy quality filter
    (the CCNet/Llama-style LM filter with the simplest possible LM): train
    token probabilities p(tok) = tf / total_tf on the corpus itself, then
    score every doc by its mean negative log-likelihood. Unusually probable
    docs are boilerplate/repetitive; unusually improbable ones are noise —
    both tails are filter candidates. Returns
    (doc_id, n_tokens, avg_neg_logprob).

    Scale shape: the vocabulary build is one partial-aggregated groupBy at
    token grain; the corpus-total is a 1-row aggregate cross-joined back
    (broadcast, not collected); scoring is an equi-join from exploded
    tokens to the vocab — vocab is Zipf-small relative to the corpus and
    AQE will broadcast it when it fits. Two token-grain shuffles total,
    both unavoidable for a corpus-trained LM."""
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    # NB: deliberately NO persists here (round-6 A/B): caching the vocab
    # measured 1.49 s vs 0.81 s uncached at sf0.1 — the map-side partial
    # aggregation collapses the token stream so cheaply that the cache
    # write/read barrier costs more than recomputing the groupBy for its
    # two consumers; a corpus-scale `toks` cache loses for the same
    # reason (guide §5: cache only when recompute beats memory pressure).
    vocab = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("total_tf"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "tok", (-F.log(F.col("tf") / F.col("total_tf"))).alias("neg_lp")
    )
    return (
        toks.join(scored, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(F.avg("neg_lp"), 4).alias("avg_neg_logprob"),
        )
    )


# Quality-band resolution for select_by_budget: quality is rounded to 4
# decimals upstream, so floor(q * 1000) buckets docs into <= 1001 bands —
# a driver-free histogram small enough for a single-partition window.
BUDGET_BANDS = 1000


def select_by_budget(
    docs: DataFrame, budget_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Token-budget data selection: greedily keep the highest-quality docs
    (quality desc, doc_id asc) until the cumulative token count would
    exceed `budget_tokens` — the 'best N tokens' selection every
    fixed-budget training run makes. Returns the kept docs as
    (doc_id, n_tokens, quality, cum_tokens) where cum_tokens is the
    GLOBAL running total in greedy order.

    Scale shape: the naive form is one unpartitioned ORDER BY quality — a
    single-task corpus sort. Instead: quality is banded (floor(q*1000),
    <= 1001 bands), per-band token totals make a tiny histogram whose
    cumulative sums run in one trivial window; every doc then gets its
    band's preceding-total offset broadcast back and only the WITHIN-band
    running sum needs a window — partitioned by band, so the sort
    parallelizes across bands instead of serializing the corpus. Band
    order is consistent with quality order, so the result is exactly the
    global greedy prefix."""
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = docs.select(
        "doc_id",
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        F.round(quality_score(F.col(text_col)), 4).alias("quality"),
    ).withColumn("__band", F.floor(F.col("quality") * BUDGET_BANDS).cast("int"))
    wb = Window.orderBy(F.col("__band").desc())
    bands = (
        d.groupBy("__band")
        .agg(F.sum("n_tokens").alias("__band_tokens"))
        .withColumn(
            "__cum_before", F.sum("__band_tokens").over(wb) - F.col("__band_tokens")
        )
        .select("__band", "__cum_before")
    )
    w_in = Window.partitionBy("__band").orderBy(F.col("quality").desc(), "doc_id")
    cum = F.col("__cum_before") + F.sum("n_tokens").over(w_in)
    return (
        d.join(F.broadcast(bands), "__band")
        .withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "n_tokens", "quality", "cum_tokens")
    )


def pack_manifest(
    docs: DataFrame,
    ctx_len: int = 128,
    n_shards: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """The materialized half of pack_sequences: the (doc slice -> training
    sequence) manifest a shard writer consumes. Each doc fans out to one
    row per ctx_len window it touches:
      (shard, seq_idx, doc_id, doc_offset, seq_offset, slice_len)
    meaning tokens [doc_offset, doc_offset + slice_len) of the doc land in
    sequence seq_idx at position seq_offset. Within any (shard, seq_idx),
    slices tile the window exactly (sum slice_len = ctx_len except the
    shard tail) — the invariant the writer and the resume logic depend on.

    Scale shape: same sharded running sum as pack_sequences (one window
    per shard), then a per-doc explode of ceil(n_tokens / ctx_len) + 1
    rows — pure integer math, no extra shuffle beyond the placement
    window."""
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = docs.select(
        "doc_id",
        sample_bucket(F.col("doc_id"), "pack", n_shards).cast("int").alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    d = d.withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    first_seq = F.floor(F.col("start") / ctx_len)
    last_seq = F.floor((F.col("start") + F.col("n_tokens") - 1) / ctx_len)
    exploded = d.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "shard",
        "start",
        "n_tokens",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_idx"),
    )
    seg_start = F.greatest(F.col("start"), F.col("seq_idx") * ctx_len)
    seg_end = F.least(
        F.col("start") + F.col("n_tokens"), (F.col("seq_idx") + 1) * ctx_len
    )
    return exploded.select(
        "shard",
        F.col("seq_idx").cast("int").alias("seq_idx"),
        "doc_id",
        (seg_start - F.col("start")).cast("int").alias("doc_offset"),
        (seg_start - F.col("seq_idx") * ctx_len).cast("int").alias("seq_offset"),
        (seg_end - seg_start).cast("int").alias("slice_len"),
    )


def curate(
    docs: DataFrame,
    clusters: DataFrame,
    min_quality: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """The corpus-curation funnel as ONE composed plan: every doc gets its
    first matching drop reason, in pipeline order —
      exact_duplicate  — not the canonical (min doc_id) of its content
                         fingerprint group
      near_duplicate   — not the canonical survivor of its near-dup
                         cluster (`clusters` = dedup.near_dup_clusters
                         output over any pair generator)
      low_quality      — quality_score < min_quality
      keep             — survives all stages.
    Returns (doc_id, quality, drop_reason).

    Plan shape: one window over the fingerprint groups (shuffle on the
    md5 fingerprint — same key exact dedup shuffles on), one equi-join to
    the cluster table, everything else in-row; the funnel is ONE scan of
    the corpus, not one scan per stage."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint

    fp = fingerprint(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy("doc_id")
    staged = (
        docs.withColumn("__fp", fp)
        .withColumn("__fp_canon", F.row_number().over(w) == 1)
        .join(
            clusters.select("doc_id", F.col("is_canonical").alias("__nd_canon")),
            "doc_id",
            "left",
        )
        .withColumn("__q", F.round(quality_score(F.col(text_col)), 4))
    )
    reason = (
        F.when(~F.col("__fp_canon"), "exact_duplicate")
        .when(~F.coalesce(F.col("__nd_canon"), F.lit(True)), "near_duplicate")
        .when(F.col("__q") < min_quality, "low_quality")
        .otherwise("keep")
    )
    return staged.select("doc_id", F.col("__q").alias("quality"), reason.alias("drop_reason"))
