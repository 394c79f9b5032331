"""The signature join must produce EXACTLY the candidates of a brute-force
cross join filtered by `levenshtein` — as multisets, so surface rows that
repeat (a synonym equal to its label) keep their multiplicity."""

from collections import Counter

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from eva_opentargets_spark.config import FUZZY_MAX_LEV, FUZZY_MIN_LEN_SLACK
from eva_opentargets_spark.operators.linking import fuzzy_candidates, label_surface

TERMS = (
    "term_id string, label string, synonyms array<string>, "
    "in_target_ontology boolean, is_obsolete boolean, replaced_by string"
)
COLS = ["mention_norm", "term_id", "label_norm", "in_ontology", "is_current", "lev", "confidence"]

# spaces, accented letters that lower() folds, and a character outside the
# BMP (two UTF-16 units, one code point): Spark's length/substring count
# code points, so a byte- or UTF-16-based segment cut would miss pairs
ALPHABET = "abcdÉé ü𝔸"
# short labels (fewer than FUZZY_MAX_LEV + 1 characters) and long ones,
# whose edited copies need every probe shift
label = st.one_of(
    st.text(alphabet=ALPHABET, max_size=4), st.text(alphabet=ALPHABET, min_size=6, max_size=14)
)
mention = st.text(alphabet=ALPHABET.lower(), min_size=0, max_size=10)


@st.composite
def edited(draw, labels):
    """A label with up to FUZZY_MAX_LEV + 1 random edits: random strings
    are rarely within reach of each other, edited labels are, at every
    shift the signature probes must cover."""
    s = list(draw(st.sampled_from(labels)).lower())
    for _ in range(draw(st.integers(0, FUZZY_MAX_LEV + 1))):
        op = draw(st.sampled_from("isd"))
        at = draw(st.integers(0, len(s)))
        ch = draw(st.sampled_from(ALPHABET.lower()))
        if op == "i":
            s.insert(at, ch)
        elif s:
            at = min(at, len(s) - 1)
            if op == "s":
                s[at] = ch
            else:
                del s[at]
    return "".join(s)


@st.composite
def dictionaries(draw):
    labels = draw(st.lists(label, min_size=1, max_size=24))
    near = draw(st.lists(edited(labels), min_size=10, max_size=40))
    far = draw(st.lists(mention, max_size=6))
    return labels, sorted(set(near + far))


def _brute_force(mentions, terms):
    n = F.length("mention_norm")
    bound = F.least(F.lit(FUZZY_MAX_LEV), F.greatest(F.lit(0), n - F.lit(FUZZY_MIN_LEN_SLACK)))
    surface = label_surface(terms).select(
        "term_id",
        F.lower("label").alias("label_norm"),
        F.col("in_target_ontology").alias("in_ontology"),
        (F.col("in_target_ontology") & ~F.col("is_obsolete")).alias("is_current"),
    )
    lev = F.levenshtein("mention_norm", "label_norm")
    return (
        mentions.crossJoin(F.broadcast(surface))
        .filter(lev <= bound)
        .select(
            "mention_norm", "term_id", "label_norm", "in_ontology", "is_current", lev.alias("lev"),
            F.when(lev <= 1, "HIGH").when(lev == 2, "GOOD").otherwise("MEDIUM").alias("confidence"),
        )
    )


def _multiset(df):
    return Counter(tuple(r) for r in df.select(*COLS).collect())


def _check(spark, labels, synonym_picks, mentions):
    rows = []
    for j, lab in enumerate(labels):
        # synonyms drawn from the label list, the term's own label included
        syns = [labels[p % len(labels)] for p in synonym_picks[j % len(synonym_picks)]] or None
        rows.append((f"T:{j}", lab, syns, j % 4 != 3, j % 5 == 4, None))
    terms = spark.createDataFrame(rows, TERMS)
    ms = spark.createDataFrame([(m,) for m in mentions], "mention_norm string")
    want = _multiset(_brute_force(ms, terms))
    got = _multiset(fuzzy_candidates(ms, terms))
    assert got == want, (want - got, got - want)


def test_signature_join_edge_cases(spark):
    # short labels (< 4 chars: fewer segments than FUZZY_MAX_LEV + 1) only
    # match at lev 0; mentions of length <= 4 have bound k = 0; the empty
    # label and mention would give sequence(0, -1), which counts DOWN, if
    # a string could have zero segments; a label repeated as its own
    # synonym (term 0) or twice as a synonym (term 2) is several surface rows
    labels = ["ab", "abc", "abcd", "abcde", "ab cd", "abcdefg", "éü𝔸a", "", "ABCDE"]
    mentions = ["ab", "abc", "abcd", "abce", "abcde", "abcdf", "bcde", "abcdefgh", "a cd",
                "éü𝔸ab", "éü𝔸", "", "abcdefghij", "ab cdx"]
    _check(spark, labels, [[0], [], [3, 3]], mentions)


# each example is two Spark queries (~6 s at local[4]), so examples are few
# and large: up to 24 labels and 46 mentions, most of them near a label
@settings(max_examples=12, deadline=None)
@given(
    dictionary=dictionaries(),
    synonym_picks=st.lists(st.lists(st.integers(0, 23), max_size=3), min_size=1, max_size=6),
)
@example(dictionary=(["abcdefgh"], ["bcdefgxh", "xxabcdefgh", "abcdefghxxx"]), synonym_picks=[[0]])
def test_signature_join_matches_brute_force(spark, dictionary, synonym_picks):
    labels, mentions = dictionary
    _check(spark, labels, synonym_picks, mentions)
