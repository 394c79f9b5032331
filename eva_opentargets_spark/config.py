"""Engine-wide constants.

Every constant mirrors a reference behavior (citations are file:line in
/root/reference).
"""

# Analog of ClinVarTrait.NONSPECIFIC_TRAITS (cmat/clinvar_xml_io/clinvar_trait.py:15-18):
# mention strings that are too generic to ever link; dropped before linking.
STOPLIST = frozenset({"the", "a", "data", "value"})

# Analog of the submission-name exclusion filter (cmat/clinvar_xml_io/filtering.py:4-12):
# turns whose `tool` is in this set are excluded from mention extraction.
EXCLUDED_TOOLS = frozenset({"redacted", "blocked"})

# Fuzzy-linking confidence tiers (analog of ZoomaConfidence, cmat/trait_mapping/zooma.py:12-29).
# The reference consumes externally-computed confidences; this engine *defines* them from
# Levenshtein distance between the normalized mention and a dictionary label:
#   lev <= 1        -> HIGH
#   lev == 2        -> GOOD
#   lev == 3        -> MEDIUM
# subject to a per-mention threshold so short strings can't fuzzy-match:
#   max_lev(mention) = least(3, greatest(0, length(mention) - 4))
CONFIDENCE_ORDER = {"LOW": 1, "MEDIUM": 2, "GOOD": 3, "HIGH": 4}
FUZZY_MAX_LEV = 3
FUZZY_MIN_LEN_SLACK = 4  # length(mention) - 4

# Xref traversal bounds (OxO analog): search up to MAX_XREF_DISTANCE hops
# (bin/trait_mapping/process_traits.py:40 default -d 3) but accept only
# distance == 1 (cmat/trait_mapping/trait.py:76).
MAX_XREF_DISTANCE = 3
ACCEPT_XREF_DISTANCE = 1

# Obsolete-term replacement chase depth (bin/trait_mapping/create_table_for_manual_curation.py:24-37
# chases replaced_by once; ols.py:111-134 get_replacement_term).
REPLACEMENT_MAX_DEPTH = 1

# Curation-spreadsheet candidate cap (bin/trait_mapping/create_table_for_manual_curation.py:96).
CURATION_MAX_CANDIDATES = 50

# Microsatellite events with complete coordinates must insert at least this
# many bases to count as repeat expansions; smaller events are regular
# insertions (cmat/clinvar_xml_io/clinvar_measure.py:21 REPEAT_EXPANSION_THRESHOLD).
REPEAT_EXPANSION_THRESHOLD = 12

# Consequence-pairing ambiguity guard (cmat/output_generation/
# clinvar_to_evidence_strings.py:23): an HGVS key mapping to more than this
# many genes annotates nothing.
MAX_TARGET_GENES = 3

# Target ontology (the reference's EFO, pipelines/utils.nf #ontology= header).
TARGET_ONTOLOGY = "EFO"

# Triple predicates: direct label link vs link obtained through
# canonicalization (xref traversal or obsolete-replacement).
PRED_DIRECT = "mapped_to"
PRED_CANONICAL = "is_a"

# Default partitioning: conv_id is bucketed so mention extraction is
# shuffle-free and skew is bounded (north_rule: explicit partition/skew handling).
DEFAULT_CONV_BUCKETS = 32

# Above this many curated-mapping rows, the in-row disease-group derivation
# stops inlining the mention->terms dictionary as a literal create_map
# (plan/codegen size is O(|mapping|) per operator) and switches to an
# Arrow-batched pandas UDF whose closure dict ships once per executor. The
# reference's real mapping table is ~13k rows (mappings/latest_mappings.tsv),
# far beyond sane literal-plan territory.
MAPPING_LITERAL_THRESHOLD = 1_000
