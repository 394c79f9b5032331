"""Evidence-generation-style operators: the curated-mapping join, the
group-by-mapped-term aggregation, and the full three-way evidence product.

Reference analogs:
  * the flagship dictionary join of evidence generation — every record
    trait name looked up in the curated mapping table, lowercased
    (cmat/output_generation/clinvar_to_evidence_strings.py:326-349,411)
  * A2 — group a record's mentions by mapped term id, keep the
    lexicographically-first mention as the group representative, explode
    multi-mappings, keep unmapped mentions as NULL-term rows
    (clinvar_to_evidence_strings.py:383-423)
  * J5 — one evidence string per (allele-origin group x disease group x
    consequence) (:145-150), with germline/somatic routing (:207-215,
    369-380) and the ~17-field null-stripped payload (:204-263)
  * P4 — the ordered failure gauntlet with per-reason counters
    (:83-176, report.py:27-37), computed as ONE when/otherwise reason
    column + a single groupBy(reason).count()
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..config import MAPPING_LITERAL_THRESHOLD, PRED_DIRECT, STOPLIST
from ..functions.ontology import curie_from_iri

def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


def curated_mapping_join(mentions: DataFrame, mappings: DataFrame) -> DataFrame:
    """Direct lookup of mention occurrences in the curated mapping table
    (broadcast; one mention may map to several terms -> row multiplication,
    the J5 product analog). Emits curated triples."""
    m = mappings.select(
        F.col("mention_norm"),
        F.coalesce(curie_from_iri(F.col("iri")), F.col("iri")).alias("obj"),
        F.col("label"),
    )
    return (
        mentions.join(F.broadcast(m), "mention_norm", "inner")
        .select(
            F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"), "mention_norm").alias("subj"),
            F.lit(PRED_DIRECT).alias("pred"),
            "obj",
            "conv_id",
            "turn_idx",
            F.col("mention_norm").alias("mention_text"),
            F.lit("curated").alias("match_type"),
            F.lit("HIGH").alias("confidence"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def group_mentions_by_term(mentions: DataFrame, mappings: DataFrame) -> DataFrame:
    """A2 — per turn, group mentions by mapped term; the group representative
    is the lexicographically-first mention (W5 tie-break discipline,
    clinvar_to_evidence_strings.py:420-422); unmapped mentions keep a NULL
    term (the (name, medgen, NULL) branch of :404-410)."""
    m = mappings.select(
        "mention_norm", F.coalesce(curie_from_iri(F.col("iri")), F.col("iri")).alias("term_id")
    )
    joined = mentions.join(F.broadcast(m), "mention_norm", "left")
    return (
        joined.groupBy("conv_id", "turn_idx", "term_id")
        .agg(
            F.min("mention_norm").alias("representative_mention"),
            F.sort_array(F.collect_set("mention_norm")).alias("grouped_mentions"),
            F.count("*").alias("n_occurrences"),
        )
    )


# --- The full evidence product (J5 + A2 in-row + routing + payload) --------


def _mapping_map(mappings: list[tuple[str, str, str]]) -> Column:
    """mention -> array<mapped-term last path component> as a literal map —
    the broadcast analog of the driver-side dict the reference builds in
    load_ontology_mapping (:326-349). diseaseFromSourceMappedId uses the
    IRI's last path component, exactly like :256."""
    by_mention: dict[str, list[str]] = {}
    for mention, iri, _label in mappings:
        by_mention.setdefault(mention.lower(), []).append(iri.rsplit("/", 1)[-1])
    entries: list[Column] = []
    for mention, terms in sorted(by_mention.items()):
        entries.append(F.lit(mention))
        entries.append(F.array(*[F.lit(t) for t in sorted(set(terms))]))
    return F.create_map(*entries)


_DG_STRUCT = (
    "struct<valid_names: array<string>, "
    "disease_groups: array<struct<disease_from_source: string, disease_mapped_id: string>>, "
    "n_mapped_terms: int>"
)


def _disease_groups_udf(mappings: list[tuple[str, str, str]], stoplist: frozenset[str]):
    """Arrow-batched twin of the literal-map path for large mapping tables:
    the mention->terms dict lives in the UDF closure (shipped once per
    executor, like the extraction gazetteer), so the PLAN stays O(1) in the
    mapping size instead of carrying a |mapping|-entry create_map literal.
    Semantics are identical to the in-row array algebra below
    (tests/test_evidence_product.py pins the equality)."""
    by_mention: dict[str, list[str]] = {}
    for mention, iri, _label in mappings:
        by_mention.setdefault(mention.lower(), []).append(iri.rsplit("/", 1)[-1])
    term_map = {m: sorted(set(ts)) for m, ts in by_mention.items()}
    stop = frozenset(stoplist)

    @F.pandas_udf(_DG_STRUCT)
    def derive(ms: pd.Series) -> pd.DataFrame:
        names_out, groups_out, n_out = [], [], []
        for arr in ms:
            if arr is None:
                arr = []
            valid = sorted({m["mention_norm"] for m in arr} - stop)
            terms_all = sorted({t for n in valid for t in term_map.get(n, ())})
            rep = {}
            for n in valid:  # ascending -> first writer is the lexicographic min
                for t in term_map.get(n, ()):
                    rep.setdefault(t, n)
            groups = [
                {"disease_from_source": rep[t], "disease_mapped_id": t} for t in terms_all
            ] + [
                {"disease_from_source": n, "disease_mapped_id": None}
                for n in valid
                if n not in term_map
            ]
            names_out.append(valid)
            groups_out.append(groups)
            n_out.append(len(terms_all))
        return pd.DataFrame(
            {"valid_names": names_out, "disease_groups": groups_out, "n_mapped_terms": n_out}
        )

    return derive


def with_disease_groups(
    df: DataFrame,
    mappings: list[tuple[str, str, str]],
    stoplist: frozenset[str] = STOPLIST,
    literal_threshold: int = MAPPING_LITERAL_THRESHOLD,
) -> DataFrame:
    """A2 as pure in-row derivation over the per-turn mention array `ms`
    (zero shuffle): adds
      valid_names         — distinct non-stoplisted mentions of the turn
      cohort_phenotypes   — sorted CSV of valid_names (:247)
      disease_groups      — array<struct(disease_from_source,
                            disease_mapped_id)>: one entry per mapped term
                            (representative = lexicographically-first
                            mention mapping to it, :420-422) plus one entry
                            per unmapped mention with NULL term (:404-410)
      has_mapping         — contains_mapping analog (:423)

    Size gate: small vocabularies inline the mention->terms dictionary as a
    literal map (whole-stage codegen, no Python); above `literal_threshold`
    mapping rows the same derivation runs as ONE Arrow pandas UDF with a
    closure dict — a 13k-row mapping as a create_map literal is a ~26k-node
    expression tree evaluated per row (plan bloat, codegen blowup, no
    pushdown), the exact pathology the gate avoids.
    """
    if len(mappings) > literal_threshold:
        dg = _disease_groups_udf(mappings, stoplist)(F.col("ms"))
        return (
            df.select("*", dg.alias("__dg"))
            .select(
                "*",
                F.col("__dg.valid_names").alias("valid_names"),
                F.array_join("__dg.valid_names", ",").alias("cohort_phenotypes"),
                F.col("__dg.disease_groups").alias("disease_groups"),
                F.col("__dg.n_mapped_terms").alias("n_mapped_terms"),
                (F.col("__dg.n_mapped_terms") > 0).alias("has_mapping"),
            )
            .drop("__dg")
        )
    names, group_cols = _disease_group_cols(tuple(mappings), frozenset(stoplist))
    return (
        df.select("*", names)
        .select("*", *group_cols)
        .select("*", (F.col("n_mapped_terms") > 0).alias("has_mapping"))
    )


@lru_cache(maxsize=8)
def _disease_group_cols(mapping_key: tuple, stoplist: frozenset):
    """The literal-map disease-group column expressions, memoized per
    (mappings, stoplist): the ~2x|mappings|-entry create_map plus the
    nested higher-order transforms are pure driver plan-construction
    latency, rebuilt identically for every record-model query (round 6)."""
    m = _mapping_map(list(mapping_key))
    names = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform("ms", lambda x: x["mention_norm"]),
                lambda n: ~n.isin(*sorted(stoplist)),
            )
        )
    ).alias("valid_names")
    terms_of = lambda n: F.coalesce(F.element_at(m, n), _empty_str_array())  # noqa: E731
    terms_all = F.array_sort(
        F.array_distinct(F.flatten(F.transform("valid_names", terms_of)))
    )
    rep_of = lambda t: F.array_min(  # noqa: E731
        F.filter(F.col("valid_names"), lambda n: F.array_contains(terms_of(n), t))
    )
    mapped_groups = F.transform(
        terms_all,
        lambda t: F.struct(rep_of(t).alias("disease_from_source"), t.alias("disease_mapped_id")),
    )
    unmapped_groups = F.transform(
        F.filter(F.col("valid_names"), lambda n: F.element_at(m, n).isNull()),
        lambda n: F.struct(
            n.alias("disease_from_source"), F.lit(None).cast("string").alias("disease_mapped_id")
        ),
    )
    group_cols = [
        F.array_join("valid_names", ",").alias("cohort_phenotypes"),
        F.concat(mapped_groups, unmapped_groups).alias("disease_groups"),
        F.size(terms_all).alias("n_mapped_terms"),
    ]
    return names, group_cols


EVIDENCE_COLUMNS = [
    "conv_id",
    "turn_idx",
    "datasource_id",
    "datatype_id",
    "allele_origins",
    "allelic_requirements",
    "clinical_significances",
    "confidence",
    "stars",
    "literature",
    "study_id",
    "release_date",
    "target_from_source_id",
    "variant_consequence_id",
    "matched_by",
    "variant_id",
    "variant_rs_id",
    "variant_vcv_id",
    "variant_hgvs_id",
    "cohort_phenotypes",
    "disease_from_source",
    "disease_from_source_id",
    "disease_mapped_id",
]


def evidence_product(with_consequences: DataFrame) -> DataFrame:
    """J5 — the three-way product + payload. Input: one row per
    (record x matched consequence) from consequences.consequence_cascade,
    already carrying origin_groups / disease_groups / clinical columns
    (records.with_record_attrs + with_disease_groups). The two remaining
    dimensions explode IN-ROW (row-local cross join, :145-150); routing is
    the is_somatic flag of the origin group (:207-215)."""
    # explode_outer + null-filter: a plain explode gets an optimizer-
    # inferred size()>0 filter on the input EXPRESSION, which re-runs the
    # extraction feeding disease_groups a second time per row.
    exploded = (
        with_consequences.withColumn("og", F.explode_outer("origin_groups"))
        .withColumn("dg", F.explode_outer("disease_groups"))
        .filter(F.col("og").isNotNull() & F.col("dg").isNotNull())
    )
    is_somatic = F.col("og.is_somatic")
    return exploded.select(
        "conv_id",
        "turn_idx",
        F.when(is_somatic, "eva_somatic").otherwise("eva").alias("datasource_id"),
        F.when(is_somatic, "somatic_mutation").otherwise("genetic_association").alias("datatype_id"),
        F.col("og.allele_origins").alias("allele_origins"),
        "allelic_requirements",
        "clinical_significances",
        F.col("review_status").alias("confidence"),
        "stars",
        "literature",
        "study_id",
        "release_date",
        F.col("ensembl_gene_id").alias("target_from_source_id"),
        F.col("so_term").alias("variant_consequence_id"),
        "matched_by",
        F.col("coord_key").alias("variant_id"),
        "variant_rs_id",
        "variant_vcv_id",
        F.col("hgvs_key").alias("variant_hgvs_id"),
        "cohort_phenotypes",
        F.col("dg.disease_from_source").alias("disease_from_source"),
        F.concat(F.lit("MG:"), F.col("dg.disease_from_source")).alias("disease_from_source_id"),
        F.col("dg.disease_mapped_id").alias("disease_mapped_id"),
    )


# Fields every evidence row must carry non-null — the output-schema contract
# gate, analog of validating each evidence string against the pinned Open
# Targets JSON schema (clinvar_to_evidence_strings.py:30-41, OT_SCHEMA_VERSION).
EVIDENCE_REQUIRED = [
    "datasource_id",
    "datatype_id",
    "study_id",
    "clinical_significances",
    "confidence",
    "target_from_source_id",
    "variant_consequence_id",
    "disease_from_source",
    "disease_from_source_id",
]


def validate_evidence_schema(evidence: DataFrame) -> None:
    """Schema-contract gate: every EVIDENCE_COLUMNS column present and every
    EVIDENCE_REQUIRED field non-null on every row. Raises on violation —
    mirroring the reference's validate-before-write discipline (invalid
    strings are never emitted, :149-155)."""
    missing = [c for c in EVIDENCE_COLUMNS if c not in evidence.columns]
    if missing:
        raise AssertionError(f"evidence schema missing columns: {missing}")
    null_pred = None
    for c in EVIDENCE_REQUIRED:
        p = F.col(c).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    if evidence.filter(null_pred).limit(1).count():
        raise AssertionError("evidence rows with NULL required fields")


def evidence_to_json(evidence: DataFrame) -> DataFrame:
    """F10 on the evidence payload: one null-stripped JSON object per row
    (the reference's json.dumps of the cleaned dict, :152-155,263)."""
    return evidence.select(
        F.to_json(
            F.struct(*[F.col(c) for c in EVIDENCE_COLUMNS]),
            {"ignoreNullFields": "true"},
        ).alias("evidence")
    )


def ot_evidence_json(records: DataFrame) -> DataFrame:
    """Open-Targets-shaped evidence strings from a record-grain frame — the
    column-level twin of the reference's generate_evidence_string
    (clinvar_to_evidence_strings.py:204-263), byte-compatible with its
    golden fixtures after canonical re-serialization
    (tests/test_ot_golden.py byte-compares against the reference's own
    expected_*_evidence_string.json).

    Input columns: allele_origins (the explicit per-evidence origin group),
    significance_raw, review_status, mode_of_inheritance, pubmed_refs,
    accession, created_date, target_gene_id, so_accession, chr, vcf_pos,
    vcf_ref, vcf_alt, rs_id, vcv_id, preferred_current_hgvs,
    cohort_phenotypes, disease_name, disease_source_id,
    disease_mapped_efo_id.

    Output: one `evidence` JSON string per row, camelCase keys in sorted
    order, empty values (NULL / empty list) stripped — the reference's
    `{k: v for k, v in ... if v}` (:262)."""
    from .. import fixtures
    from ..functions.normalize import format_creation_date, normalize_significance

    def non_empty(arr: Column) -> Column:
        return F.when(F.size(arr) > 0, arr)

    def ns(col: Column) -> Column:
        # empty-string scalars are falsy to the reference's `if v` filter
        # and must be stripped exactly like NULLs, not kept as ""
        return F.nullif(col, F.lit(""))

    is_somatic = F.col("allele_origins") == F.array(F.lit("somatic"))
    valid_sigs = F.filter(
        normalize_significance(F.col("significance_raw")),
        lambda s: ~s.isin(*sorted(fixtures.INVALID_SIGNIFICANCES)),
    )
    coords_ok = (
        F.col("chr").isNotNull()
        & F.col("vcf_pos").isNotNull()
        & F.col("vcf_ref").isNotNull()
        & F.col("vcf_alt").isNotNull()
    )
    payload = F.struct(
        non_empty(F.col("allele_origins")).alias("alleleOrigins"),
        non_empty(F.col("mode_of_inheritance")).alias("allelicRequirements"),
        non_empty(valid_sigs).alias("clinicalSignificances"),
        non_empty(F.col("cohort_phenotypes")).alias("cohortPhenotypes"),
        ns(F.col("review_status")).alias("confidence"),
        F.when(is_somatic, "eva_somatic").otherwise("eva").alias("datasourceId"),
        F.when(is_somatic, "somatic_mutation")
        .otherwise("genetic_association")
        .alias("datatypeId"),
        ns(F.col("disease_name")).alias("diseaseFromSource"),
        ns(F.col("disease_source_id")).alias("diseaseFromSourceId"),
        ns(F.element_at(F.split("disease_mapped_efo_id", "/"), -1)).alias(
            "diseaseFromSourceMappedId"
        ),
        non_empty(F.array_sort(F.array_distinct("pubmed_refs"))).alias("literature"),
        F.nullif(format_creation_date(F.col("created_date")), F.lit("")).alias("releaseDate"),
        ns(F.col("accession")).alias("studyId"),
        ns(F.col("target_gene_id")).alias("targetFromSourceId"),
        ns(F.col("vcv_id")).alias("variantFromSourceId"),
        ns(F.col("so_accession")).alias("variantFunctionalConsequenceId"),
        ns(F.col("preferred_current_hgvs")).alias("variantHgvsId"),
        F.when(coords_ok, F.concat_ws("_", "chr", "vcf_pos", "vcf_ref", "vcf_alt")).alias(
            "variantId"
        ),
        ns(F.col("rs_id")).alias("variantRsId"),
    )
    return records.select(
        F.to_json(payload, {"ignoreNullFields": "true"}).alias("evidence")
    )


def feedback_export(records: DataFrame, mappings: DataFrame) -> DataFrame:
    """J6 — the variant x trait feedback export (reference
    bin/traits_to_zooma_format.py:22-39): every (variant id in {rs, nsv}) x
    (valid trait name) pair of a record, one row per curated mapping of the
    name, with the mapping IRI as the semantic tag.

    `mappings` is the (mention_norm, iri, ...) curated table as a DataFrame —
    joined BROADCAST, never inlined into the plan as a literal map (the
    13k-row production mapping table must stay a join-side relation; see
    MAPPING_LITERAL_THRESHOLD)."""
    variant_ids = F.array_compact(F.array("variant_rs_id", "variant_nsv_id"))
    m = F.broadcast(mappings.select(F.col("mention_norm").alias("property_value"), "iri"))
    return (
        records.withColumn("bioentity", F.explode(variant_ids))
        .withColumn("property_value", F.explode("valid_names"))
        .join(m, "property_value", "inner")
        .select(
            F.col("study_id").alias("study"),
            "bioentity",
            F.lit("disease").alias("property_type"),
            "property_value",
            F.col("iri").alias("semantic_tag"),
            F.lit("clinvar-xrefs").alias("annotator"),
        )
    )


def gauntlet_reason(has_consequences: Column) -> Column:
    """P4 — the ordered skip/fatal reason column (one per record), mirroring
    the reference's failure modes 1-7 + the done_one/done_multiple split
    (:83-176). `complete` = count of complete evidence strings the record
    will generate (origin groups x mapped disease groups x consequences)."""
    complete = (
        F.size("origin_groups") * F.col("n_mapped_terms") * F.col("n_consequences")
    )
    return (
        F.when(~F.col("valid"), "fatal_excluded_submission")
        .when(F.col("n_classifications") > 1, "skip_multiple_clinical_classifications")
        .when(F.size("valid_names") == 0, "fatal_no_valid_traits")
        .when(~F.col("has_valid_significance"), "fatal_no_clinical_significance")
        .when(~F.col("has_measure"), "skip_unsupported_variation")
        .when(~has_consequences, "skip_no_functional_consequences")
        .when(~F.col("has_mapping"), "skip_missing_efo_mapping")
        .when(complete == 1, "done_one_complete_evidence_string")
        .otherwise("done_multiple_complete_evidence_strings")
    )
