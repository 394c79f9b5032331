"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re

import duckdb
import pytest

import inputs
import run
from eventlog import fold, read_events
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(HERE, "..", "..", "BENCHMARK.json")


def test_same_seed_same_digest_other_seed_other_digest():
    def corpus(seed):
        return inputs.digest({"documents": inputs.flagship_documents(seed, 2_000)})

    def dictionary(seed):
        d = inputs.dictionary(seed, 2_000, 200)
        docs = inputs.cascade_documents(seed, 500, d["vocabulary"])
        return inputs.digest({"terms": d["terms"], "xrefs": d["xrefs"], "documents": docs})

    assert corpus(7) == corpus(7)
    assert corpus(7) != corpus(8)
    assert dictionary(7) == dictionary(7)
    assert dictionary(7) != dictionary(8)


def test_generated_vocabulary_fits_the_gazetteer_contract():
    vocab = inputs.dictionary(3, 2_000, 300)["vocabulary"]
    assert len(vocab) == len(set(vocab)) == 300
    for w in vocab:
        assert w == w.lower() == w.strip() and w.count(" ") <= 1 and "  " not in w


def test_eventlog_fold_of_canned_log():
    folded = fold(read_events(os.path.join(HERE, "data", "eventlog")))
    assert folded["span#0"] == {
        "jobs": 1,
        "tasks": 2,
        "failed_tasks": 0,
        "cpu_s": pytest.approx(2.0),
        "gc_s": pytest.approx(0.25),
        "shuffle_bytes": 1024,
        "spill_bytes": 15,
        "python_rows": 42,
    }
    assert folded[""]["jobs"] == 1
    assert folded[""]["failed_tasks"] == 1
    assert folded[""]["gc_s"] == pytest.approx(0.005)


def test_self_time_subtracts_children():
    class FakeContext:
        def setJobGroup(self, *args):
            self.group = args[0]

    class FakeSession:
        sparkContext = FakeContext()

    tracer = Tracer(FakeSession())
    outer = tracer.open("outer")
    inner = tracer.open("inner")
    assert tracer.sc.group == inner["id"]
    tracer.close(inner)
    assert tracer.sc.group == outer["id"]
    tracer.close(outer)
    inner["start"], inner["end"] = 1.0, 3.0
    outer["start"], outer["end"] = 0.0, 5.0
    selfs = tracer.self_times()
    assert selfs[outer["id"]] == pytest.approx(3.0)
    assert selfs[inner["id"]] == pytest.approx(2.0)
    assert tracer.top_level_s() == pytest.approx(5.0)


def test_every_metric_is_declared_with_its_unit():
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.per_layer_units()
    for name in list(declared_e2e) + list(declared_layer):
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_pigeonhole_pairs_cover_every_close_pair():
    """The dictionary reference only scores pairs passing the pigeonhole
    filter; it must keep every pair within the per-mention edit bound."""
    from workloads import PIGEONHOLE_PAIRS

    rng = random.Random(5)
    labels = sorted({"".join(rng.choice("abcde") for _ in range(rng.randint(3, 12)))
                     for _ in range(400)})
    mentions = []
    for _ in range(120):
        w = list(rng.choice(labels))
        for _ in range(rng.randint(0, 3)):
            i = rng.randrange(len(w))
            op = rng.randrange(3)
            if op == 0:
                w[i] = rng.choice("abcde")
            elif op == 1:
                w.insert(i, rng.choice("abcde"))
            elif len(w) > 1:
                del w[i]
        mentions.append("".join(w))
    con = duckdb.connect()
    con.execute("CREATE TABLE gen_terms (label VARCHAR)")
    con.executemany("INSERT INTO gen_terms VALUES (?)", [(x,) for x in labels])
    con.execute("CREATE TABLE gen_syns (synonym VARCHAR)")
    con.execute("CREATE TABLE gen_vocabulary (mention VARCHAR)")
    con.executemany("INSERT INTO gen_vocabulary VALUES (?)", [(x,) for x in set(mentions)])
    con.execute(PIGEONHOLE_PAIRS)
    brute = set(con.execute(
        """SELECT mention, label FROM gen_vocabulary, gen_terms
           WHERE levenshtein(mention, label) <= least(3, greatest(0, length(mention) - 4))"""
    ).fetchall())
    filtered = set(con.execute("SELECT mention_norm, label_norm FROM gen_pairs").fetchall())
    assert brute and brute <= filtered
