"""Flagship evidence-product tests mirroring the reference's grouping and
product semantics (tests/output_generation/test_clinvar_to_evidence_strings
.py:67-140 + the group_diseases_by_efo_mapping docstring example).
"""

import pytest
from pyspark.sql import functions as F

from eva_opentargets_spark.operators.evidence import with_disease_groups

# The reference docstring example (clinvar_to_evidence_strings.py:383-401):
#   Diseases A, B, C -> EFO_1 ; D -> EFO_2 & EFO_3 ; E, F -> EFO_4 & EFO_5 ;
#   G -> no mapping
# expected groups: (A, EFO_1), (D, EFO_2), (D, EFO_3), (E, EFO_4),
#   (E, EFO_5), (G, None)
REF_MAPPINGS = [
    ("aa", "http://x/EFO_1", "la"),
    ("bb", "http://x/EFO_1", "lb"),
    ("cc", "http://x/EFO_1", "lc"),
    ("dd", "http://x/EFO_2", "ld"),
    ("dd", "http://x/EFO_3", "ld"),
    ("ee", "http://x/EFO_4", "le"),
    ("ee", "http://x/EFO_5", "le"),
    ("ff", "http://x/EFO_4", "lf"),
    ("ff", "http://x/EFO_5", "lf"),
]


def _ms(names):
    return [{"pos": i, "mention_norm": n} for i, n in enumerate(names)]


def test_disease_grouping_reference_example(spark):
    df = spark.createDataFrame(
        [("t1", 0, _ms(["gg", "dd", "cc", "bb", "aa", "ff", "ee"]))],
        "conv_id string, turn_idx int, ms array<struct<pos:int,mention_norm:string>>",
    )
    out = with_disease_groups(df, REF_MAPPINGS).collect()[0]
    groups = {(g["disease_from_source"], g["disease_mapped_id"]) for g in out["disease_groups"]}
    assert groups == {
        ("aa", "EFO_1"),
        ("dd", "EFO_2"),
        ("dd", "EFO_3"),
        ("ee", "EFO_4"),
        ("ee", "EFO_5"),
        ("gg", None),
    }
    assert out["cohort_phenotypes"] == "aa,bb,cc,dd,ee,ff,gg"
    assert out["n_mapped_terms"] == 5
    assert out["has_mapping"]


def test_disease_grouping_unmapped_only(spark):
    df = spark.createDataFrame(
        [("t1", 0, _ms(["zzz"]))],
        "conv_id string, turn_idx int, ms array<struct<pos:int,mention_norm:string>>",
    )
    out = with_disease_groups(df, REF_MAPPINGS).collect()[0]
    assert [(g["disease_from_source"], g["disease_mapped_id"]) for g in out["disease_groups"]] == [
        ("zzz", None)
    ]
    assert not out["has_mapping"]


def test_stoplist_excluded_from_groups(spark):
    df = spark.createDataFrame(
        [("t1", 0, _ms(["the", "a"]))],  # both stoplisted
        "conv_id string, turn_idx int, ms array<struct<pos:int,mention_norm:string>>",
    )
    out = with_disease_groups(df, REF_MAPPINGS).collect()[0]
    assert out["valid_names"] == []
    assert out["disease_groups"] == []


def test_disease_grouping_udf_path_equals_literal_path(spark):
    """The size-gated Arrow path (MAPPING_LITERAL_THRESHOLD) must be
    row-identical to the literal-map path."""
    df = spark.createDataFrame(
        [
            ("t1", 0, _ms(["gg", "dd", "cc", "bb", "aa", "ff", "ee"])),
            ("t2", 1, _ms(["zzz"])),
            ("t3", 2, _ms(["the", "a"])),
            ("t4", 3, _ms([])),
        ],
        "conv_id string, turn_idx int, ms array<struct<pos:int,mention_norm:string>>",
    )
    cols = ["conv_id", "valid_names", "cohort_phenotypes", "disease_groups",
            "n_mapped_terms", "has_mapping"]
    lit = {r["conv_id"]: r for r in with_disease_groups(df, REF_MAPPINGS).select(cols).collect()}
    udf = {
        r["conv_id"]: r
        for r in with_disease_groups(df, REF_MAPPINGS, literal_threshold=0).select(cols).collect()
    }
    assert lit == udf


def test_disease_grouping_13k_mapping_plan_has_no_literal(spark):
    """A mapping table the size of the reference's latest_mappings.tsv
    (13,211 rows), generated here, through with_disease_groups: above the
    gate the plan must carry no create_map literal (round-2 verdict #1 —
    a ~26k-entry literal expression tree is a plan/codegen scale-killer),
    and a known mapping still resolves."""
    obo = "http://purl.obolibrary.org/obo"
    mappings = [
        (f"synthetic trait {i:05d}", f"{obo}/EFO_{i:07d}", f"synthetic trait {i}")
        for i in range(13_210)
    ]
    mappings.append(
        ("11p partial monosomy syndrome", f"{obo}/MONDO_0008681", "11p partial monosomy syndrome")
    )
    assert len(mappings) > 13_000

    df = spark.createDataFrame(
        [("t1", 0, _ms(["11p partial monosomy syndrome", "zzz"]))],
        "conv_id string, turn_idx int, ms array<struct<pos:int,mention_norm:string>>",
    )
    out_df = with_disease_groups(df, mappings)
    plan = out_df._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan or "arrow" in plan.lower()
    # the literal path would inline every mapping key into the plan
    assert "11p partial monosomy syndrome" not in plan
    assert len(plan) < 200_000

    out = out_df.collect()[0]
    groups = {(g["disease_from_source"], g["disease_mapped_id"]) for g in out["disease_groups"]}
    assert ("11p partial monosomy syndrome", "MONDO_0008681") in groups
    assert ("zzz", None) in groups
    assert out["has_mapping"]


def test_evidence_product_cardinality_and_routing(spark):
    """One record: 2 origin groups x 3 disease groups x 2 consequences
    -> 12 evidence rows; somatic rows route to eva_somatic
    (clinvar_to_evidence_strings.py:145-150, 207-215)."""
    from eva_opentargets_spark.operators.consequences import consequence_cascade
    from eva_opentargets_spark.operators.evidence import evidence_product
    from eva_opentargets_spark.operators.records import origin_groups_col

    cons = spark.createDataFrame(
        [("k1", "G1", "g1", "SO:1"), ("k1", "G2", "g2", "SO:2")],
        "variant_id string, ensembl_gene_id string, gene_symbol string, so_term string",
    )
    rec = spark.createDataFrame(
        [("c1", 0, ["germline", "somatic"], _ms(["aa", "dd"]))],
        "conv_id string, turn_idx int, origins array<string>, "
        "ms array<struct<pos:int,mention_norm:string>>",
    )
    rec = (
        with_disease_groups(rec, REF_MAPPINGS)
        .withColumn("origin_groups", origin_groups_col(F.col("origins")))
        .withColumn("rcv_key", F.lit("k1"))
        .withColumn("coord_key", F.lit(None).cast("string"))
        .withColumn("hgvs_key", F.lit(None).cast("string"))
        .withColumn("review_status", F.lit("practice guideline"))
        .withColumn("stars", F.lit(4))
        .withColumn("clinical_significances", F.lit("pathogenic"))
        .withColumn("allelic_requirements", F.lit(None).cast("string"))
        .withColumn("literature", F.lit("PMID:1"))
        .withColumn("study_id", F.lit("RCV1"))
        .withColumn("release_date", F.lit("2024-01-15"))
        .withColumn("variant_rs_id", F.lit("rs1"))
        .withColumn("variant_vcv_id", F.lit("VCV1"))
    )
    cas = consequence_cascade(rec, cons, keep_unmatched=False)
    out = evidence_product(cas).collect()
    # disease groups: (a, EFO_1), (d, EFO_2), (d, EFO_3) -> 3
    assert len(out) == 2 * 3 * 2
    somatic = [r for r in out if r["datasource_id"] == "eva_somatic"]
    germline = [r for r in out if r["datasource_id"] == "eva"]
    assert len(somatic) == len(germline) == 6
    assert all(r["datatype_id"] == "somatic_mutation" for r in somatic)
    assert all(r["allele_origins"] == "somatic" for r in somatic)
    assert all(r["allele_origins"] == "germline" for r in germline)
    assert all(r["datatype_id"] == "genetic_association" for r in germline)
    assert {r["target_from_source_id"] for r in out} == {"G1", "G2"}
    assert all(r["matched_by"] == "REPEAT" for r in out)
    assert all(r["disease_from_source_id"].startswith("MG:") for r in out)


def test_gauntlet_reason_order(spark):
    """Earlier failure modes mask later ones (ordered gauntlet, :83-124)."""
    from eva_opentargets_spark.operators.evidence import gauntlet_reason

    base = dict(
        valid=True,
        n_classifications=1,
        has_valid_significance=True,
        has_measure=True,
        has_mapping=True,
        n_mapped_terms=1,
        n_consequences=1,
        has_cons=True,
        names=["x"],
        og=1,
    )
    cases = [
        (dict(base, valid=False, n_classifications=2), "fatal_excluded_submission"),
        (dict(base, n_classifications=2, names=[]), "skip_multiple_clinical_classifications"),
        (dict(base, names=[], has_valid_significance=False), "fatal_no_valid_traits"),
        (dict(base, has_valid_significance=False, has_measure=False), "fatal_no_clinical_significance"),
        (dict(base, has_measure=False, has_cons=False), "skip_unsupported_variation"),
        (dict(base, has_cons=False, has_mapping=False), "skip_no_functional_consequences"),
        (dict(base, has_mapping=False, n_mapped_terms=0), "skip_missing_efo_mapping"),
        (dict(base), "done_one_complete_evidence_string"),
        (dict(base, n_consequences=2), "done_multiple_complete_evidence_strings"),
    ]
    rows = [
        (
            i,
            c["valid"],
            c["n_classifications"],
            c["names"],
            c["has_valid_significance"],
            c["has_measure"],
            c["has_mapping"],
            c["n_mapped_terms"],
            c["n_consequences"],
            c["has_cons"],
            [("o%d" % j, False) for j in range(c["og"])],
        )
        for i, (c, _) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows,
        "i int, valid boolean, n_classifications int, valid_names array<string>, "
        "has_valid_significance boolean, has_measure boolean, has_mapping boolean, "
        "n_mapped_terms int, n_consequences int, has_cons boolean, "
        "origin_groups array<struct<allele_origins:string,is_somatic:boolean>>",
    )
    got = {
        r["i"]: r["reason"]
        for r in df.withColumn("reason", gauntlet_reason(F.col("has_cons"))).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_evidence_schema_gate(spark, tmp_path=None):
    """The output-schema contract (validate_evidence_string analog,
    clinvar_to_evidence_strings.py:30-41): full kg_evidence passes; a frame
    with a NULL required field or a missing column is rejected."""
    import pytest as _pytest

    from eva_opentargets_spark.operators.evidence import (
        evidence_to_json,
        validate_evidence_schema,
    )
    from eva_opentargets_spark.queries import kg_evidence

    ev = kg_evidence(spark, "/root/testdata/sf0.001")
    validate_evidence_schema(ev)  # must not raise

    with _pytest.raises(AssertionError):
        validate_evidence_schema(ev.drop("study_id"))
    broken = ev.withColumn("study_id", F.lit(None).cast("string"))
    with _pytest.raises(AssertionError):
        validate_evidence_schema(broken)

    # JSON rendering strips nulls (no "variant_id" key when coords absent)
    j = evidence_to_json(ev.filter(F.col("variant_id").isNull())).first()
    assert j is None or '"variant_id"' not in j["evidence"]
