"""Seeded input generators for the benchmark workloads.

Everything the engine reads is generated here from the run's seed and
written as files: the engine only ever sees the files. The same seed gives
byte-identical tables (``digest`` hashes their Arrow serialization), a
different seed gives different tables.

Shapes:

* ``documents.parquet`` -- the testdata ``documents`` table
  (doc_id, text, lang, source, n_chars), so ``derive_transcripts`` and the
  DuckDB twins in ``oracle.py`` read it unchanged;
* ``terms.parquet`` / ``xrefs.parquet`` -- the ``ONTOLOGY_TERMS`` /
  ``ONTOLOGY_XREFS`` dictionary shapes, plus the gazetteer vocabulary;
* ``transcripts/`` -- the conv_id-bucketed transcript table the
  spark-submit job reads (hive-partitioned by ``bucket``), derived from
  ``documents.parquet`` by the oracle's own DuckDB derivation.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = np.array(list("bcdfghklmnprstvz"))
VOWELS = np.array(list("aeiou"))
LANGS = ["en", "en", "en", "de", "fr", "zh"]
N_SOURCES = 20


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC serialization of every table, by name."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def pseudo_words(rng: np.random.Generator, n: int, min_syl: int, max_syl: int) -> list[str]:
    """n distinct pronounceable lowercase words of min_syl..max_syl CV
    syllables (2 letters each)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = n - len(out)
        syl = rng.integers(min_syl, max_syl + 1, size=k)
        cons = rng.choice(CONSONANTS, size=(k, max_syl))
        vows = rng.choice(VOWELS, size=(k, max_syl))
        pairs = np.char.add(cons, vows)
        for row, s in zip(pairs, syl):
            w = "".join(row[:s])
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out


def _documents(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    source = [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)]
    # a share of 'blocked' sources: derive_transcripts copies `source` into
    # `tool` on every fifth doc, and 'blocked' is an excluded tool
    for i in np.flatnonzero(rng.random(n) < 0.02):
        source[i] = "blocked"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size=n)]),
            "source": pa.array(source),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def _texts(
    rng: np.random.Generator,
    n_docs: int,
    phrases: list[str],
    weights: np.ndarray,
    fillers: list[str],
    mention_share: float,
    min_tokens: int,
    max_tokens: int,
    empty_share: float = 0.005,
) -> list[str]:
    """Documents of min..max tokens; each token is a phrase (drawn by
    `weights`) with probability `mention_share`, else a filler word."""
    lens = rng.integers(min_tokens, max_tokens + 1, size=n_docs)
    total = int(lens.sum())
    is_phrase = rng.random(total) < mention_share
    pool = np.array(phrases + fillers, dtype=object)
    idx = np.where(
        is_phrase,
        rng.choice(len(phrases), size=total, p=weights / weights.sum()),
        len(phrases) + rng.integers(0, len(fillers), size=total),
    )
    toks = pool[idx]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n : e]) for e, n in zip(ends, lens)]
    for i in np.flatnonzero(rng.random(n_docs) < empty_share):
        texts[i] = ""
    return texts


def flagship_documents(seed: int, n_docs: int) -> pa.Table:
    """Transcript corpus over the demo dictionary's vocabulary: a Zipf-skewed
    phrase mix, casefold variants, stop-listed hot strings, excluded-tool
    turns (doc_id % 17 and 'blocked' sources) and a few empty turns."""
    from eva_opentargets_spark import fixtures
    from eva_opentargets_spark.config import STOPLIST

    rng = np.random.default_rng([seed, 1])
    vocab = [w for w in fixtures.mention_vocabulary() if w not in STOPLIST]
    phrases, weights = [], []
    for rank, w in enumerate(rng.permutation(vocab)):
        base = 1.0 / (rank + 1) ** 1.1
        phrases += [w, w.title(), w.upper()]
        weights += [base * 0.8, base * 0.15, base * 0.05]
    for s in sorted(STOPLIST):
        phrases.append(s)
        weights.append(0.4)
    fillers = pseudo_words(rng, 400, 2, 4)
    texts = _texts(rng, n_docs, phrases, np.array(weights), fillers, 0.3, 4, 32)
    return _documents(rng, texts)


def _pick(rng: np.random.Generator, items: list[str]) -> str:
    return items[int(rng.integers(len(items)))]


def _edit(rng: np.random.Generator, word: str, n_edits: int) -> str:
    """Apply n letter substitutions/insertions/deletions, never touching
    spaces, so the token structure of the label survives."""
    chars = list(word)
    for _ in range(n_edits):
        letters = [i for i, c in enumerate(chars) if c != " "]
        i = letters[int(rng.integers(len(letters)))]
        op = int(rng.integers(0, 3))
        c = _pick(rng, "bcdfghklmnprstvz" if rng.random() < 0.6 else "aeiou")
        if op == 0:
            chars[i] = c
        elif op == 1:
            chars.insert(i, c)
        elif len(letters) > 1:
            del chars[i]
    return "".join(chars)


def dictionary(seed: int, n_terms: int, n_mentions: int) -> dict:
    """A seeded ontology of n_terms terms (labels, synonyms, obsolete terms
    with replacements, out-of-target terms with xrefs) and n_mentions
    distinct gazetteer strings drawn against it: mostly lev-1..3
    misspellings of labels, plus exact, normalized, obsolete-with-
    replacement, xref-only and unmatched strings.

    Returns {"terms": Table, "xrefs": Table, "vocabulary": [str]}."""
    from eva_opentargets_spark.config import STOPLIST

    rng = np.random.default_rng([seed, 2])
    words = pseudo_words(rng, int(n_terms * 1.6), 2, 7)
    it = iter(words)
    labels, kinds = [], []
    for i in range(n_terms):
        w = next(it)
        r = rng.random()
        if r < 0.2:
            w = f"{w} {next(it)}"
        elif r < 0.24:
            w = f"{w}!"  # folds to `w` at the normalized tier
        elif r < 0.27:
            w = f"{w}-{next(it)}"  # folds to a bigram
        labels.append(w)
        u = rng.random()
        kinds.append("obsolete" if u < 0.04 else "mondo" if u < 0.10 else "current")
    term_id = [f"GEN:{i:06d}" for i in range(n_terms)]
    current = [t for t, k in zip(term_id, kinds) if k == "current"]
    replaced_by = [_pick(rng, current) if k == "obsolete" else None for k in kinds]
    synonyms = [[next(it)] if rng.random() < 0.15 else None for _ in range(n_terms)]
    terms = pa.table(
        {
            "term_id": term_id,
            "iri": [f"http://example.org/gen/{t.replace(':', '_')}" for t in term_id],
            "ontology": ["MONDO" if k == "mondo" else "EFO" for k in kinds],
            "label": labels,
            "synonyms": pa.array(synonyms, pa.list_(pa.string())),
            "in_target_ontology": [k != "mondo" for k in kinds],
            "is_obsolete": [k == "obsolete" for k in kinds],
            "replaced_by": pa.array(replaced_by, pa.string()),
        }
    )
    src, dst, dist = [], [], []
    for i, k in enumerate(kinds):
        if k == "mondo":
            src.append(term_id[i])
            dst.append(_pick(rng, current))
            dist.append(1 if rng.random() < 0.8 else 2)
    for _ in range(n_terms // 50):  # noise edges: too far to be accepted
        src.append(term_id[int(rng.integers(0, n_terms))])
        dst.append(term_id[int(rng.integers(0, n_terms))])
        dist.append(3)
    xrefs = pa.table(
        {
            "src_curie": src,
            "dst_curie": dst,
            "distance": pa.array(dist, pa.int32()),
            "source": ["gen"] * len(src),
        }
    )

    def fold(s: str) -> str:
        return " ".join("".join(c if c.isalnum() else " " for c in s).split())

    by_kind: dict[str, list[str]] = {"current": [], "obsolete": [], "mondo": [], "punct": []}
    for lab, k in zip(labels, kinds):
        if lab != fold(lab):
            if k == "current":
                by_kind["punct"].append(fold(lab))
        else:
            by_kind[k].append(lab)
    long_current = [w for w in by_kind["current"] if len(w) >= 8]
    mix = [("misspelled", 0.55), ("current", 0.15), ("punct", 0.08), ("obsolete", 0.07),
           ("mondo", 0.07), ("noise", 0.08)]
    vocab: set[str] = set()
    for kind, share in mix:
        want, got = int(n_mentions * share), 0
        while got < want:
            if kind == "misspelled":
                m = _edit(rng, _pick(rng, long_current), int(rng.integers(1, 4)))
            elif kind == "noise":
                m = pseudo_words(rng, 1, 3, 6)[0] + "x"
            else:
                m = _pick(rng, by_kind[kind])
            m = m.strip()
            if m and "  " not in m and m.count(" ") <= 1 and m not in STOPLIST and m not in vocab:
                vocab.add(m)
                got += 1
    return {"terms": terms, "xrefs": xrefs, "vocabulary": sorted(vocab)}


def cascade_documents(seed: int, n_docs: int, vocabulary: list[str]) -> pa.Table:
    """A small corpus whose mentions are the generated gazetteer strings
    (skewed), plus stop-listed hot strings and filler words."""
    from eva_opentargets_spark.config import STOPLIST

    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(len(vocabulary))
    phrases = [vocabulary[i] for i in order] + sorted(STOPLIST)
    weights = np.concatenate(
        [1.0 / (np.arange(len(vocabulary)) + 10.0) ** 0.7, np.full(len(STOPLIST), 0.05)]
    )
    fillers = pseudo_words(rng, 300, 1, 3)
    texts = _texts(rng, n_docs, phrases, weights, fillers, 0.25, 4, 20)
    return _documents(rng, texts)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=64 * 1024)


def write_bucketed_transcripts(documents_path: str, out_dir: str, buckets: int) -> None:
    """The conv_id-bucketed transcript table of `documents_path`, derived by
    the oracle's DuckDB twin of derive_transcripts (so the DuckDB oracles
    over documents.parquet describe it exactly)."""
    import duckdb

    from eva_opentargets_spark.sources.transcripts import derive_transcripts_duckdb_sql

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
        con.execute(
            f"""COPY (
                  SELECT *, CAST(hash(conv_id) % {buckets} AS INT) AS bucket
                  FROM ({derive_transcripts_duckdb_sql('')})
                ) TO '{out_dir}' (FORMAT PARQUET, PARTITION_BY (bucket))"""
        )
    finally:
        con.close()


def prepare(workload: str, seed: int, size: dict, out_dir: str) -> dict:
    """Generate and write one workload's inputs into out_dir; return
    {"turns": n, "digest": sha256}."""
    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "documents.parquet")
    if workload == "dictionary_cascade":
        d = dictionary(seed, size["terms"], size["mentions"])
        vocabulary = d["vocabulary"]
        docs = cascade_documents(seed, size["docs"], vocabulary)
        write_table(d["terms"], os.path.join(out_dir, "terms.parquet"))
        write_table(d["xrefs"], os.path.join(out_dir, "xrefs.parquet"))
        vocab_table = pa.table({"mention": vocabulary})
        write_table(vocab_table, os.path.join(out_dir, "vocabulary.parquet"))
        tables = {"documents": docs, "terms": d["terms"], "xrefs": d["xrefs"],
                  "vocabulary": vocab_table}
    else:
        docs = flagship_documents(seed, size["docs"])
        tables = {"documents": docs}
    write_table(docs, docs_path)
    if workload == "wave_job":
        write_bucketed_transcripts(docs_path, os.path.join(out_dir, "transcripts"), size["buckets"])
    return {"turns": docs.num_rows, "digest": digest(tables)}
