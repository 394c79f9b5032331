"""JVM-vs-Arrow fuzzy-candidate benchmark at dictionary scale.

Round-2 verdict #9: exercise the Arrow fuzzy path at its design scale and
prove the ARROW_FUZZY_TERM_THRESHOLD auto-flip (linking.py) wins there.
Generates synthetic ontology dictionaries of 1k/10k/50k/100k terms with a
REALISTIC label-length spread (4-30 chars — length-band pruning is the whole
point of both fast paths; uniform lengths would degenerate both to full
scans), scores a fixed 1,000-mention distinct-mention table (8 partitions,
so both paths parallelize the way the production cascade does) through BOTH
paths, and prints a wall-time table (min of N runs).

Run ALONE on the host (shared-box discipline, see BENCH.md):
    python tools/bench_fuzzy.py [--sizes 1000,10000,50000,100000] [--runs 2]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")


def pseudo_word(i: int, salt: str = "") -> str:
    """Deterministic pronounceable pseudo-word (no RNG, stable across runs),
    2-8 syllables -> 4-16 chars per word."""
    cons = "bcdfghklmnprstvz"
    vow = "aeiou"
    # stable digest, NOT hash(): str.__hash__ is randomized per process
    # (PYTHONHASHSEED), which would make "deterministic" dictionaries drift
    # across runs and the JVM-vs-Arrow crossover unreproducible
    import hashlib

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
    # every 5th term a bigram label -> lengths 4-16 (unigrams) / 9-33
    # (bigrams): the band index prunes most of the dictionary per mention
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
    # mentions are dictionary words with 0-2 character edits -> realistic
    # fuzzy hit rates at every dictionary size; 8 partitions so both
    # candidate paths run parallel tasks
    rows = []
    for i in range(n):
        w = pseudo_word((i * 7919) % vocab)
        if i % 3 == 1 and len(w) > 4:
            w = w[:-1]  # deletion
        elif i % 3 == 2:
            w = w + "x"  # insertion
        rows.append((w,))
    return spark.createDataFrame(rows, "mention_norm string").repartition(8)


def materialize(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000,10000,50000,100000")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from eva_opentargets_spark.operators.fuzzy_udf import fuzzy_candidates_arrow
    from eva_opentargets_spark.operators.linking import fuzzy_candidates
    from eva_opentargets_spark.session import get_spark

    spark = get_spark(app_name="bench_fuzzy", master="local[8]", shuffle_partitions=8)
    mentions = build_mentions(spark).persist()
    mentions.count()

    # correctness cross-check once, at the smallest size (the pytest twin
    # covers semantics; this guards the benchmark's own generators)
    t0 = build_terms(spark, 1000).persist()
    nj = fuzzy_candidates(mentions, t0).count()
    na = fuzzy_candidates_arrow(mentions, t0).count()
    assert nj == na, (nj, na)
    t0.unpersist()
    print(f"paths agree at 1k terms: {nj} candidates", flush=True)

    print(f"{'terms':>8} | {'jvm sec':>8} | {'arrow sec':>9} | winner", flush=True)
    results = []
    for n in (int(s) for s in args.sizes.split(",")):
        terms = build_terms(spark, n).persist()
        terms.count()
        jvm = min(materialize(fuzzy_candidates(mentions, terms)) for _ in range(args.runs))
        arrow = min(
            materialize(fuzzy_candidates_arrow(mentions, terms)) for _ in range(args.runs)
        )
        winner = "arrow" if arrow < jvm else "jvm"
        print(f"{n:>8} | {jvm:>8.2f} | {arrow:>9.2f} | {winner}", flush=True)
        results.append((n, round(jvm, 2), round(arrow, 2), winner))
        terms.unpersist()
    spark.stop()

    lines = [
        "",
        f"## JVM-vs-Arrow fuzzy scoring (1,000 distinct mentions, min of {args.runs}, local[8])",
        "",
        "| dictionary terms | JVM broadcast-band join (s) | Arrow banded UDF (s) | winner |",
        "|---|---|---|---|",
    ] + [f"| {n} | {j} | {a} | {w} |" for n, j, a, w in results] + [""]
    with open("BENCH.md", "a") as fh:
        fh.write("\n".join(lines))
    print("appended to BENCH.md", flush=True)


if __name__ == "__main__":
    main()
