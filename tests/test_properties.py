"""Seeded-random property tests: the distributed operators against
independent pure-Python references (deterministic seeds — reproducible,
no flakiness; one Spark job per property, the random batch rides inside).

These pin the ALGORITHMS, complementing the fixture oracles: the DuckDB
twins share formula constants with the engine by construction, so an
independent third implementation is the strongest cross-check available
in-repo (the reference engine's own discipline — SURVEY.md §5).
"""

import hashlib
import random

from pyspark.sql import functions as F

from eva_opentargets_spark.operators import dedup
from eva_opentargets_spark.session import Persisted


def test_pigeonhole_hamming_complete_on_random_fingerprints(spark):
    """For random 32-bit fingerprints, the blocked operator returns EXACTLY
    the brute-force Hamming<=3 pair set — pigeonhole blocking loses nothing
    and adds nothing, across three seeds."""
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        # cluster values around a few centers so hamming<=3 pairs exist
        centers = [rng.getrandbits(32) for _ in range(5)]
        vals = []
        for i in range(60):
            c = centers[i % 5]
            flips = rng.sample(range(32), rng.randint(0, 3))
            v = c
            for b in flips:
                v ^= 1 << b
            vals.append((i, v))
        expected = {
            (a, b)
            for ai, (a, va) in enumerate(vals)
            for b, vb in vals[ai + 1 :]
            if bin(va ^ vb).count("1") <= 3
        }
        sim = spark.createDataFrame(vals, "doc_id int, simhash long")
        got = {(r.doc_a, r.doc_b) for r in dedup.hamming_near_dups(sim).collect()}
        assert got == expected, f"seed {seed}: {got ^ expected}"


def test_minhash_signatures_match_python_reference(spark):
    """Spark's in-row MinHash equals an independent Python md5 min over the
    distinct lowercased token set, for random multi-token docs."""
    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(25)
    ]

    def py_sig(text, n=8):
        toks = set(text.lower().split(" "))
        return [
            min(hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in toks)
            for i in range(n)
        ]

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: [r[f"h{i}"] for i in range(8)]
        for r in dedup.minhash_signatures(df, n_hashes=8).collect()
    }
    assert got == {i: py_sig(t) for i, t in docs}


def test_simhash_matches_python_reference(spark):
    """Spark's column-math SimHash equals the textbook per-bit majority
    vote over 32-bit token hash prefixes."""
    rng = random.Random(11)
    vocab = [f"tok{j}" for j in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(20)
    ]

    def py_simhash(text, bits=32):
        toks = set(text.lower().split(" "))
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        out = 0
        for b in range(bits):
            votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if votes > 0:
                out |= 1 << b
        return out

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert got == {i: py_simhash(t) for i, t in docs}


def test_label_propagation_matches_python_connected_components(spark):
    """until_converged clustering equals Python union-find components on a
    random sparse graph, across three seeds."""
    for seed in (5, 6, 7):
        rng = random.Random(seed)
        n = 40
        edges = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(25)
        }
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id int")
        pairs = spark.createDataFrame(sorted(edges), "doc_a int, doc_b int")
        with Persisted() as held:
            clusters = dedup.near_dup_clusters(docs, pairs, until_converged=True)
        got = {r.doc_id: r.cluster_id for r in clusters.collect()}
        held.release()
        assert got == expected, f"seed {seed}"
