"""The benchmark's workloads: what one repetition runs, and how its output
is checked against a reference.

Every workload drives the engine's public functions from outside:

* ``corpus_flagship`` -- ``run_pipeline`` over a seeded corpus with the demo
  dictionary, triples to a noop sink. Corpus-grain layers (scan + turn
  gauntlet, extraction, triple emission) do the work; the cascade is
  trivial.
* ``dictionary_cascade`` -- the same pipeline over a small corpus whose
  gazetteer strings are a few thousand distinct misspellings/hits of a
  seeded dictionary large enough to take the Arrow fuzzy path. The linking
  cascade does the work.
* ``wave_job`` -- the spark-submit job (``job.main``: ``run_waves`` over a
  conv_id-bucketed transcript table, then the global cascade, curation
  and metrics), writing to a fresh directory per repetition.

Checks compare order-independently, in DuckDB, with the engine's own
DuckDB twins from ``oracle.py`` (the dictionary workload rewrites the
twin's fixture dictionary into the generated one).
"""

from __future__ import annotations

import glob
import json
import os
import re

import duckdb

from inputs import prepare

TRIPLE_COLS = "subj, pred, obj, conv_id, turn_idx, mention_text, match_type, confidence"
LINK_COLS = "mention_norm, term_id, match_type, confidence, pred"


def duck(documents_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    return con


def diff(con, ref_sql: str, got_sql: str, cols: str) -> tuple[int, int, int, int]:
    """(ref rows, got rows, ref-only rows, got-only rows) as multisets."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS SELECT {cols} FROM ({ref_sql})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM ({got_sql})")
    return con.execute(
        """SELECT (SELECT count(*) FROM ref), (SELECT count(*) FROM got),
                  (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM got)),
                  (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM ref))"""
    ).fetchone()


def diff_problem(name: str, counts) -> list[str]:
    n_ref, n_got, ref_only, got_only = counts
    if ref_only or got_only or n_ref != n_got:
        return [f"{name}: reference {n_ref} rows, engine {n_got} rows, "
                f"{ref_only} missing, {got_only} unexpected"]
    return []


def parquet_sql(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def kg_sql(name: str) -> str:
    """The oracle twin of KG query `name`, with every CTE materialized: the
    twins reference their CTEs many times, and DuckDB otherwise re-runs the
    whole tokenize-and-match chain under each reference."""
    from eva_opentargets_spark.oracle import kg_queries

    return re.sub(r"(?m)^(WITH |, ?)?(\w+) AS \(", r"\1\2 AS MATERIALIZED (", kg_queries()[name])


class Workload:
    name = ""
    size: dict = {}
    input_dir = ""
    turns = 0
    digest = ""

    def prepare(self, seed: int, out_dir: str) -> None:
        meta = prepare(self.name, seed, self.size, out_dir)
        self.input_dir, self.turns, self.digest = out_dir, meta["turns"], meta["digest"]

    @property
    def documents(self) -> str:
        return os.path.join(self.input_dir, "documents.parquet")

    def run_once(self, spark, out_dir: str, keep: bool = False) -> None:
        """One repetition. With keep=True its output is written under
        out_dir for :meth:`check` (the warm-up repetition does this)."""
        raise NotImplementedError

    def check(self, out_dir: str) -> list[str]:
        """Problems found in the output a keep=True repetition left in
        out_dir (empty when correct)."""
        raise NotImplementedError

    def written(self, out_dir: str) -> tuple[int, int]:
        """(bytes, files) the last repetition wrote to storage."""
        return 0, 0


class CorpusFlagship(Workload):
    name = "corpus_flagship"
    size = {"docs": 50_000}

    def _pipeline(self, spark):
        from eva_opentargets_spark import pipeline
        from eva_opentargets_spark.sources import transcripts

        return pipeline.run_pipeline(spark, transcripts.derive_transcripts(spark, self.input_dir))

    def run_once(self, spark, out_dir: str, keep: bool = False) -> None:
        res = self._pipeline(spark)
        if keep:
            res.triples.write.parquet(os.path.join(out_dir, "triples"))
            res.links.write.parquet(os.path.join(out_dir, "links"))
        else:
            res.triples.write.format("noop").mode("overwrite").save()
        res.unpersist()

    def check(self, out_dir: str) -> list[str]:
        con = duck(self.documents)
        try:
            return diff_problem(
                "triples",
                diff(con, kg_sql("kg_triples"), parquet_sql(os.path.join(out_dir, "triples")),
                     TRIPLE_COLS),
            )
        finally:
            con.close()


# The oracle's fuzzy-candidate CTE scores every (mention, surface label)
# pair: fine for the 18-term demo dictionary, hours at dictionary scale.
# The dictionary workload restricts it to the pairs that pass an exact
# pigeonhole filter: a mention within k edits of a label, split into k+1
# segments, has one segment verbatim in the label, shifted by at most k.
ORACLE_CANDIDATE_JOIN = """  FROM un1 u JOIN surface t
    ON levenshtein(u.mention_norm, lower(t.label))
       <= least(3, greatest(0, length(u.mention_norm) - 4))"""
FILTERED_CANDIDATE_JOIN = """  FROM un1 u JOIN gen_pairs p ON p.mention_norm = u.mention_norm
  JOIN surface t ON lower(t.label) = p.label_norm
   AND levenshtein(u.mention_norm, lower(t.label))
       <= least(3, greatest(0, length(u.mention_norm) - 4))"""

PIGEONHOLE_PAIRS = """
CREATE OR REPLACE TEMP TABLE gen_pairs AS
WITH m AS (
  SELECT mention AS mention_norm, length(mention) AS n,
         least(3, greatest(0, length(mention) - 4)) AS k
  FROM gen_vocabulary
),
seg AS (
  SELECT mention_norm, n, k, (i * n) // (k + 1) AS start,
         ((i + 1) * n) // (k + 1) - (i * n) // (k + 1) AS len
  FROM m, range(0, 4) r(i) WHERE i <= k
),
labels AS (
  SELECT DISTINCT lower(label) AS label_norm FROM gen_terms
  UNION SELECT lower(synonym) FROM gen_syns
),
sub AS (
  SELECT l.label_norm, length(l.label_norm) AS n, s.len, p AS pos,
         substr(l.label_norm, p + 1, s.len) AS piece
  FROM labels l, (SELECT DISTINCT len FROM seg) s, range(0, 64) r(p)
  WHERE p + s.len <= length(l.label_norm)
)
SELECT DISTINCT seg.mention_norm, sub.label_norm
FROM seg JOIN sub ON sub.len = seg.len
 AND sub.piece = substr(seg.mention_norm, seg.start + 1, seg.len)
WHERE abs(sub.pos - seg.start) <= seg.k AND abs(sub.n - seg.n) <= seg.k
"""


class DictionaryCascade(CorpusFlagship):
    name = "dictionary_cascade"
    size = {"docs": 5_000, "terms": 11_000, "mentions": 150}

    def prepare(self, seed: int, out_dir: str) -> None:
        import pyarrow.parquet as pq

        from eva_opentargets_spark.config import STOPLIST

        super().prepare(seed, out_dir)
        mentions = pq.read_table(os.path.join(out_dir, "vocabulary.parquet")).column("mention")
        # the stop-list rides along like in fixtures.mention_vocabulary():
        # stop-listed strings are extracted, counted, then dropped
        self.vocabulary = sorted(set(mentions.to_pylist()) | STOPLIST)

    def _pipeline(self, spark):
        from eva_opentargets_spark import pipeline
        from eva_opentargets_spark.sources import transcripts

        terms = spark.read.parquet(os.path.join(self.input_dir, "terms.parquet"))
        xrefs = spark.read.parquet(os.path.join(self.input_dir, "xrefs.parquet"))
        return pipeline.run_pipeline(
            spark,
            transcripts.derive_transcripts(spark, self.input_dir),
            terms=terms,
            xrefs=xrefs,
            vocabulary=self.vocabulary,
        )

    def check(self, out_dir: str) -> list[str]:
        con = duck(self.documents)
        try:
            self._load_dictionary(con)
            return diff_problem(
                "links",
                diff(con, self.reference("kg_links"), parquet_sql(os.path.join(out_dir, "links")),
                     LINK_COLS),
            ) + diff_problem(
                "triples",
                diff(con, self.reference("kg_triples"),
                     parquet_sql(os.path.join(out_dir, "triples")), TRIPLE_COLS),
            )
        finally:
            con.close()

    def _load_dictionary(self, con) -> None:
        d = self.input_dir
        con.execute(
            f"""CREATE TEMP TABLE gen_terms AS
                SELECT term_id, iri, ontology, label, in_target_ontology, is_obsolete, replaced_by
                FROM read_parquet('{d}/terms.parquet')"""
        )
        con.execute(
            f"""CREATE TEMP TABLE gen_syns AS
                SELECT term_id, unnest(synonyms) AS synonym
                FROM read_parquet('{d}/terms.parquet') WHERE synonyms IS NOT NULL"""
        )
        con.execute(f"CREATE TEMP TABLE gen_xrefs AS SELECT * FROM read_parquet('{d}/xrefs.parquet')")
        con.execute("CREATE TEMP TABLE gen_vocabulary (mention VARCHAR)")
        con.executemany("INSERT INTO gen_vocabulary VALUES (?)", [(w,) for w in self.vocabulary])
        con.execute(PIGEONHOLE_PAIRS)

    def reference(self, query: str) -> str:
        """The oracle twin of `query` with the demo dictionary and vocabulary
        swapped for the generated ones."""
        from eva_opentargets_spark import fixtures, oracle

        vocab = fixtures.mention_vocabulary()
        swaps = [
            (fixtures.terms_sql(), "gen_terms"),
            (fixtures.synonyms_sql(), "(SELECT term_id, synonym FROM gen_syns)"),
            (fixtures.xrefs_sql(), "gen_xrefs"),
            (oracle._in_list([w for w in vocab if " " not in w]),
             "(SELECT mention FROM gen_vocabulary WHERE NOT contains(mention, ' '))"),
            (oracle._in_list([w for w in vocab if " " in w]),
             "(SELECT mention FROM gen_vocabulary WHERE contains(mention, ' '))"),
            (ORACLE_CANDIDATE_JOIN, FILTERED_CANDIDATE_JOIN),
        ]
        sql = kg_sql(query)
        for old, new in swaps:
            if sql.count(old) != 1:
                raise RuntimeError(f"oracle {query}: expected one occurrence of {old[:60]!r}")
            sql = sql.replace(old, new)
        return sql


class WaveJob(Workload):
    name = "wave_job"
    size = {"docs": 10_000, "buckets": 4, "wave_size": 4}

    def run_once(self, spark, out_dir: str, keep: bool = False) -> None:
        from eva_opentargets_spark import job

        # job.main ends with spark.stop(); keep the benchmark's session (the
        # per-process launch cost is what setup_s measures)
        spark.stop = lambda: None
        try:
            job.main(
                [
                    "--transcripts", os.path.join(self.input_dir, "transcripts"),
                    "--output", out_dir,
                    "--buckets", str(self.size["buckets"]),
                    "--wave-size", str(self.size["wave_size"]),
                    "--run-id", "bench",
                ]
            )
        finally:
            del spark.stop

    def check(self, out_dir: str) -> list[str]:
        """The job's own output: its manifest and metrics table against what
        it wrote, and both against the oracle."""
        problems = []
        manifest = []
        for path in sorted(glob.glob(os.path.join(out_dir, "_manifest", "bucket-*.json"))):
            with open(path) as fh:
                manifest.append(json.load(fh))
        if sorted(m["bucket"] for m in manifest) != list(range(self.size["buckets"])):
            problems.append(f"manifest lists buckets {[m['bucket'] for m in manifest]}")
        con = duck(self.documents)
        try:
            per_bucket = dict(
                con.execute(
                    f"""SELECT bucket, count(*) FROM read_parquet(
                          '{out_dir}/triples/**/*.parquet', hive_partitioning = true)
                        GROUP BY bucket"""
                ).fetchall()
            )
            for m in manifest:
                if m["triples_emitted"] != per_bucket.get(m["bucket"], 0):
                    problems.append(
                        f"manifest bucket {m['bucket']}: {m['triples_emitted']} triples, "
                        f"{per_bucket.get(m['bucket'], 0)} written"
                    )
            problems += diff_problem(
                "triples",
                diff(con, kg_sql("kg_triples"), parquet_sql(os.path.join(out_dir, "triples")),
                     TRIPLE_COLS),
            )
            written = dict(
                con.execute(
                    f"""SELECT counter, value FROM read_parquet('{out_dir}/metrics/*.parquet')
                        WHERE partition = 'all'"""
                ).fetchall()
            )
            expected = dict(con.execute(kg_sql("kg_metrics")).fetchall())
            if written.get("triples_emitted") != sum(per_bucket.values()):
                problems.append(
                    f"metrics triples_emitted {written.get('triples_emitted')}, "
                    f"{sum(per_bucket.values())} written"
                )
            for counter, value in sorted(written.items()):
                if expected.get(counter) != value:
                    problems.append(f"metrics {counter}: {value}, oracle {expected.get(counter)}")
            if not written:
                problems.append("metrics table is empty")
        finally:
            con.close()
        return problems

    def written(self, out_dir: str) -> tuple[int, int]:
        n_bytes = n_files = 0
        for root, _, files in os.walk(out_dir):
            for f in files:
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
        return n_bytes, n_files


WORKLOADS = {w.name: w for w in (CorpusFlagship, DictionaryCascade, WaveJob)}
