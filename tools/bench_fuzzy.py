"""Fuzzy-candidate join benchmark at dictionary scale: the engine's
pigeonhole signature equi-join (linking.fuzzy_candidates) against the
broadcast nested-loop length-band join it replaced.

Generates synthetic ontology dictionaries of 1k/10k/100k terms with a
realistic label-length spread (4-33 chars: both joins prune by length, so
uniform lengths would flatter neither), scores a fixed table of 1,000
distinct mentions (8 partitions) through both joins, and prints a
wall-time table (min of N runs). At the smallest size both joins must equal
a brute-force cross join + `levenshtein` filter as multisets. The
nested-loop join is skipped above NESTED_MAX_TERMS terms. Runs at
local[<cpu count>].

Run alone on the host:
    python tools/bench_fuzzy.py [--sizes 1000,10000,100000] [--runs 2]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
from collections import Counter

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from eva_opentargets_spark.config import FUZZY_MAX_LEV, FUZZY_MIN_LEN_SLACK  # noqa: E402
from eva_opentargets_spark.operators.linking import fuzzy_candidates, label_surface  # noqa: E402

COLS = ["mention_norm", "term_id", "label_norm", "lev"]
NESTED_MAX_TERMS = 10_000  # the nested-loop join already takes ~5 s a run here


def pseudo_word(i: int, salt: str = "") -> str:
    """Deterministic pronounceable pseudo-word, 2-8 syllables -> 4-16
    chars. Seeded by md5, not hash(): str hashes are randomized per process
    (PYTHONHASHSEED), which would make the dictionaries drift across runs."""
    cons = "bcdfghklmnprstvz"
    vow = "aeiou"
    salt_n = int.from_bytes(hashlib.md5(salt.encode()).digest()[:4], "little")
    x = (i * 2654435761 + salt_n % 1000003) & 0xFFFFFFFF
    out = []
    for _ in range(2 + x % 7):
        out.append(cons[x % len(cons)])
        x //= len(cons)
        out.append(vow[x % len(vow)])
        x //= len(vow)
    return "".join(out)


def build_terms(spark, n: int):
    # every 5th term a bigram label -> lengths 4-16 (unigrams) / 9-33 (bigrams)
    rows = [
        (f"T:{i}", pseudo_word(i) + (" " + pseudo_word(i, "b") if i % 5 == 0 else ""),
         True, i % 97 == 0, None)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "term_id string, label string, in_target_ontology boolean, "
        "is_obsolete boolean, replaced_by string",
    )


def build_mentions(spark, n: int = 1000, vocab: int = 100_000):
    # dictionary words with 0-1 character edits -> realistic fuzzy hit
    # rates at every dictionary size; one row per distinct string, as in
    # the cascade's distinct-mention table
    words = set()
    for i in range(n):
        w = pseudo_word((i * 7919) % vocab)
        if i % 3 == 1 and len(w) > 4:
            w = w[:-1]  # deletion
        elif i % 3 == 2:
            w = w + "x"  # insertion
        words.add(w)
    return spark.createDataFrame([(w,) for w in sorted(words)], "mention_norm string").repartition(8)


def _bound(mention_col: str = "mention_norm"):
    n = F.length(mention_col)
    return F.least(F.lit(FUZZY_MAX_LEV), F.greatest(F.lit(0), n - F.lit(FUZZY_MIN_LEN_SLACK)))


def _surface(terms):
    return label_surface(terms).select("term_id", F.lower("label").alias("label_norm"))


def nested_loop_candidates(mentions, terms):
    """The replaced join: broadcast nested loop on the length band
    |len(m) - len(label)| <= bound, then the levenshtein filter."""
    m = mentions.select("mention_norm", _bound().alias("max_lev"))
    joined = m.join(
        F.broadcast(_surface(terms)),
        F.abs(F.length("mention_norm") - F.length("label_norm")) <= F.col("max_lev"),
    ).withColumn("lev", F.levenshtein("mention_norm", "label_norm"))
    return joined.filter(F.col("lev") <= F.col("max_lev")).select(*COLS)


def brute_force_candidates(mentions, terms):
    lev = F.levenshtein("mention_norm", "label_norm")
    return (
        mentions.crossJoin(F.broadcast(_surface(terms)))
        .filter(lev <= _bound())
        .select("mention_norm", "term_id", "label_norm", lev.alias("lev"))
    )


def multiset(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*COLS).collect())


def materialize(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000,10000,100000")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from eva_opentargets_spark.session import get_spark

    master = f"local[{os.cpu_count()}]"
    spark = get_spark(app_name="bench_fuzzy", master=master, shuffle_partitions=8)
    mentions = build_mentions(spark).persist()
    n_mentions = mentions.count()

    # identity check at the smallest size (tests/test_fuzzy_candidates.py
    # covers the edge cases; this guards the benchmark's own generators)
    t0 = build_terms(spark, 1000).persist()
    want = multiset(brute_force_candidates(mentions, t0))
    for name, join in (("signature", fuzzy_candidates), ("nested loop", nested_loop_candidates)):
        if multiset(join(mentions, t0)) != want:
            raise SystemExit(f"{name} join differs from brute force at 1k terms")
    t0.unpersist()
    print(f"both joins equal brute force at 1k terms: {sum(want.values())} candidates", flush=True)

    print(f"{'terms':>8} | {'signature s':>11} | {'nested loop s':>13}", flush=True)
    results = []
    for n in (int(s) for s in args.sizes.split(",")):
        terms = build_terms(spark, n).persist()
        terms.count()
        sig = min(materialize(fuzzy_candidates(mentions, terms)) for _ in range(args.runs))
        nested = None
        if n <= NESTED_MAX_TERMS:
            nested = min(materialize(nested_loop_candidates(mentions, terms)) for _ in range(args.runs))
        shown = "-" if nested is None else f"{nested:.2f}"
        print(f"{n:>8} | {sig:>11.2f} | {shown:>13}", flush=True)
        results.append((n, f"{sig:.2f}", shown))
        terms.unpersist()
    spark.stop()

    lines = [
        "",
        f"## Fuzzy candidates: signature join vs nested-loop join "
        f"({n_mentions} distinct mentions, min of {args.runs}, {master})",
        "",
        "| dictionary terms | signature equi-join (s) | broadcast nested-loop join (s) |",
        "|---|---|---|",
    ] + [f"| {n} | {s} | {b} |" for n, s, b in results] + [""]
    with open("BENCH.md", "a") as fh:
        fh.write("\n".join(lines))
    print("appended to BENCH.md", flush=True)


if __name__ == "__main__":
    main()
