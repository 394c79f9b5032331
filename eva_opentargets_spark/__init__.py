"""eva_opentargets_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference CMAT pipeline (apriltuesday/eva-opentargets).

The reference is a batch ETL + entity-linking toolkit over ClinVar XML
(see /root/reference, e.g. cmat/trait_mapping/main.py:34-75 for the
linking cascade). This package re-expresses that pipeline Spark-first
over tables of multi-turn transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      -> mention extraction (in-row JVM gazetteer expression)
      -> distinct-mention pre-aggregation  (kills skew; replaces lru_cache)
      -> linking cascade: exact -> fuzzy -> xref -> replacement
         (broadcast ontology dictionary; reference semantics from
          cmat/trait_mapping/{ols.py,trait.py,main.py})
      -> (subj, pred, obj) triple emission + metrics + curation routing

plus the large-scale training-data operators (dedup, ANN similarity,
text analysis) a 100 TB corpus pipeline needs.
"""

__version__ = "0.1.0"
