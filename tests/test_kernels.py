"""Golden tests ported from the reference's unit suite.

Sources: /root/reference/src/test/java/it/unipi/di/acube/smaph/
SmaphUtilsTest.java and learn/featurePacks/
AdvancedAnnotationFeaturePackTest.java. Values asserted are the
reference's exact goldens (north_rule: "ports of SMAPH's
annotation/ranking unit tests recast as pair-scoring assertions").
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smaph_spark.functions import kernels as K

DELTA = 1e-4


# --- SmaphUtilsTest.testGetMinEditDist (:21-60) ---------------------------
def test_min_edit_dist_goldens():
    assert K.min_edit_dist("armstrong moon", "Armstrong World Industries") == pytest.approx(
        (0 + 4.0 / 5.0 + 7.0 / 10.0) / 3.0, abs=DELTA
    )
    toks = []
    res = K.min_edit_dist("armstrong moon", "Armstrong World Industries", toks)
    assert res == pytest.approx((0 + 4 / 5 + 7 / 10) / 3, abs=DELTA)
    assert toks == ["armstrong", "moon", "armstrong"]

    toks = []
    assert K.min_edit_dist("armstrong moon", "armstrong moon", toks) == 0.0
    assert toks == ["armstrong", "moon"]

    toks = []
    assert K.min_edit_dist("moooon moan", "moon", toks) == pytest.approx(0.25, abs=DELTA)
    assert toks == ["moan"]


# --- SmaphUtilsTest.testGetNormEditDistance (:62-75) ----------------------
def test_norm_edit_distance_goldens():
    assert K.norm_edit_distance("armstrong", "armstrong") == 0.0
    assert K.norm_edit_distance("world", "armstrong") == pytest.approx(8 / 9, abs=DELTA)
    assert K.norm_edit_distance("world", "moon") == pytest.approx(4 / 5, abs=DELTA)
    assert K.norm_edit_distance("industries", "armstrong") == pytest.approx(7 / 10, abs=DELTA)
    assert K.norm_edit_distance("industries", "moon") == pytest.approx(1.0, abs=DELTA)
    assert K.norm_edit_distance("", "abc") == 1.0
    assert K.norm_edit_distance("abc", "") == 1.0


def test_norm_edit_distance_batch_matches_scalar():
    a = ["world", "world", "industries", "industries", "", "abc", "same"]
    b = ["armstrong", "moon", "armstrong", "moon", "abc", "", "same"]
    got = K.norm_edit_distance_batch(a, b)
    want = [K.norm_edit_distance(x, y) for x, y in zip(a, b)]
    np.testing.assert_allclose(got, want, atol=1e-12)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdef", max_size=12),
    st.text(alphabet="abcdef", max_size=12),
)
def test_levenshtein_batch_property(a, b):
    assert K.levenshtein_batch([a], [b])[0] == K.levenshtein(a, b)


# --- SmaphUtilsTest.testGetBioSequences (:77-112) --------------------------
def test_bio_sequences():
    s1 = K.bio_sequences(1, 100)
    assert len(s1) == 2 and {"B", "O"} == set(s1)
    s2 = K.bio_sequences(2, 100)
    assert len(s2) == 5
    assert set(s2) == {"BB", "BI", "BO", "OB", "OO"}
    s3 = K.bio_sequences(3, 100)
    assert len(s3) == 13
    assert set(s3) == {
        "BBB", "BBI", "BBO", "BIB", "BII", "BIO", "BOB", "BOO",
        "OBB", "OBI", "OBO", "OOB", "OOO",
    }


# --- SmaphUtilsTest.testFindTokensPosition (:114-154) -----------------------
def test_token_positions():
    assert K.token_positions("all your base are belong to us.") == [
        (0, 3), (4, 8), (9, 13), (14, 17), (18, 24), (25, 27), (28, 30)
    ]
    assert K.token_positions("  lulz   hahhh") == [(2, 6), (9, 14)]
    assert K.token_positions("  lulz   hahhh  !! ") == [(2, 6), (9, 14)]


# --- SmaphUtilsTest.testGetSegmentations (:156-230) -------------------------
def test_segmentations():
    query = "  all , 0your   base!!  "
    segs = K.segmentations(query, 1000)
    assert len(segs) == 13
    as_strings = [[query[s:e] for s, e in seg] for seg in segs]
    expected = [
        ["all", "0your", "base"],
        ["all", "0your   base"],
        ["all", "0your"],
        ["all , 0your", "base"],
        ["all , 0your   base"],
        ["all , 0your"],
        ["all", "base"],
        ["all"],
        ["0your", "base"],
        ["0your   base"],
        ["0your"],
        ["base"],
        [],
    ]
    for e in expected:
        assert e in as_strings, e


# --- SmaphUtilsTest.testFindSegments (:232-249) -----------------------------
def test_segments():
    assert K.segments("  aaa bbb   ccc   ") == [
        (2, 5), (6, 9), (12, 15), (2, 9), (6, 15), (2, 15)
    ]


# --- SmaphUtilsTest.testGetNonAlphanumericCharCount (:251-256) --------------
def test_non_alnum_count():
    assert K.non_alnum_count(" dd    34") == 0
    assert K.non_alnum_count(" dd;34") == 1
    assert K.non_alnum_count(" dd;34.)*&*+^") == 8


# --- SmaphUtilsTest.testGetFragmentation (:279-301) -------------------------
BOLDS_FRAG = [
    "aaa", "aaa", "aaa bbb", "aaa bbb", "aaa bbb", "aaa",
    "bbb aaa", "ccc", "ccc", "bbb",
]


def test_fragmentation():
    assert K.fragmentation(BOLDS_FRAG, "aaa") == pytest.approx(1.0, abs=DELTA)
    assert K.fragmentation(BOLDS_FRAG, "aaa ' bbb  ") == pytest.approx(3 / 7, abs=DELTA)
    assert K.fragmentation(BOLDS_FRAG, "BBB aaa") == pytest.approx(1 / 5, abs=DELTA)
    assert K.fragmentation(BOLDS_FRAG, "ccc") == pytest.approx(1.0, abs=DELTA)
    assert K.fragmentation(BOLDS_FRAG, "bbb") == pytest.approx(1.0, abs=DELTA)


# --- SmaphUtilsTest.testGetAggregation (:303-327) ---------------------------
BOLDS_AGG = [
    "aaa", "aaa", "aaa bbb", "aaa bbb", "aaa bbb", "aaa bbb ccc",
    "aaa", "bbb aaa", "ccc", "ccc",
]


def test_aggregation():
    assert K.aggregation(BOLDS_AGG, "aaa") == pytest.approx(3 / 8, abs=DELTA)
    assert K.aggregation(BOLDS_AGG, "aaa ' bbb  ") == pytest.approx(3 / 4, abs=DELTA)
    assert K.aggregation(BOLDS_AGG, "BBB aaa") == pytest.approx(1.0, abs=DELTA)
    assert K.aggregation(BOLDS_AGG, "ccc") == pytest.approx(2 / 3, abs=DELTA)
    assert K.aggregation(BOLDS_AGG, "bbb") == pytest.approx(0.0, abs=DELTA)
    assert K.aggregation(BOLDS_AGG, "aaa   &^*# bbb CCC") == pytest.approx(1.0, abs=DELTA)


# --- SmaphUtilsTest.testIsSubToken (:330-376) --------------------------------
def test_is_sub_token():
    t1 = ["aaa", "bbb", "ccc", "ddd", "eee"]
    t2 = ["bbb", "ccc", "ddd"]
    t3 = ["ccc", "eee"]
    t4 = ["ccc", "ddd", "eee"]
    t5 = ["aaa"]
    for t in (t1, t2, t3, t4, t5):
        assert not K.is_sub_token(t, t)
    assert K.is_sub_token(t2, t1) and not K.is_sub_token(t1, t2)
    assert not K.is_sub_token(t3, t1) and not K.is_sub_token(t1, t3)
    assert K.is_sub_token(t4, t1) and not K.is_sub_token(t1, t4)
    assert K.is_sub_token(t5, t1) and not K.is_sub_token(t1, t5)
    assert not K.is_sub_token(t3, t2) and not K.is_sub_token(t2, t3)


# --- SmaphUtilsTest.testCollapseBinding (:378-480) ---------------------------
def test_collapse_binding():
    res = K.collapse_binding([(2, 4, 111, 0.5), (10, 4, 111, 1.0), (20, 4, 111, 0.0)])
    assert res == [(2, 22, 111, pytest.approx(0.5, abs=DELTA))]

    res = K.collapse_binding(
        [(2, 4, 111, 0.0), (10, 4, 111, 0.0), (12, 4, 111, 1.0), (20, 4, 111, 1.0),
         (30, 4, 222, 0.7), (40, 4, 333, 0.5), (50, 4, 333, 0.0)]
    )
    assert len(res) == 3
    assert res[0] == (2, 22, 111, pytest.approx(0.5, abs=DELTA))
    assert res[1] == (30, 4, 222, pytest.approx(0.7, abs=DELTA))
    assert res[2] == (40, 14, 333, pytest.approx(0.25, abs=DELTA))

    res = K.collapse_binding(
        [(2, 4, 111, 0.7), (20, 4, 222, 0.1), (30, 4, 222, 0.3),
         (40, 4, 333, 0.3), (50, 4, 333, 0.5)]
    )
    assert res == [
        (2, 4, 111, pytest.approx(0.7, abs=DELTA)),
        (20, 14, 222, pytest.approx(0.2, abs=DELTA)),
        (40, 14, 333, pytest.approx(0.4, abs=DELTA)),
    ]

    res = K.collapse_binding(
        [(2, 4, 111, 0.3), (20, 4, 222, 0.0), (30, 4, 222, 1.0),
         (40, 4, 333, 0.5), (50, 4, 333, 0.7), (55, 4, 444, 0.9)]
    )
    assert res == [
        (2, 4, 111, pytest.approx(0.3, abs=DELTA)),
        (20, 14, 222, pytest.approx(0.5, abs=DELTA)),
        (40, 14, 333, pytest.approx(0.6, abs=DELTA)),
        (55, 4, 444, pytest.approx(0.9, abs=DELTA)),
    ]


# --- SmaphUtilsTest.testTokenize (:482-507) ----------------------------------
def test_tokenize():
    for s in ("aaa   bbb     ccc", "\taaa   bbb     ccc",
              "aaa   bbb     ccc\n", "aaa   bbb \t\t\nccc\n"):
        assert K.tokenize(s) == ["aaa", "bbb", "ccc"]
    assert K.tokenize("\t\t\n") == []
    assert K.tokenize("\t\t\naaa") == ["aaa"]
    assert K.tokenize("aaa\t\t\n") == ["aaa"]
    assert K.tokenize("aaa") == ["aaa"]


# --- SmaphUtilsTest.testRemoveTrailingParenthetical (:510-516) ----------------
def test_strip_parenthetical():
    assert K.strip_parenthetical("Maradona (Philosophy)") == "Maradona"
    assert K.strip_parenthetical("Maradona") == "Maradona"
    assert K.strip_parenthetical("Maradona  (Player)") == "Maradona"
    assert K.strip_parenthetical("Maradona (aaa)  (Player)") == "Maradona (aaa)"


# --- SmaphUtilsTest.testFindSegmentsStrings (:518-530) ------------------------
def test_segments_strings():
    assert K.segments_strings("  ;;;aaa bbb   ,., ccc") == [
        "aaa", "aaa bbb", "aaa bbb ccc", "bbb", "bbb ccc", "ccc"
    ]


# --- AdvancedAnnotationFeaturePackTest.testExpandedMention (:21-50) -----------
def test_expanded_mention():
    em = K.expanded_mention
    assert em("bbb", 0, 3, False) is None
    assert em("bbb", 0, 3, True) is None
    assert em("aa;bbb cc", 3, 6, False) is None
    assert em("aa;bbb cc", 3, 6, True) is None
    assert em("aaa;bbb ccc", 4, 7, False) == "aaa bbb"
    assert em("aaa;bbb ccc", 4, 7, True) == "bbb ccc"
    assert em("aaa aaaa;bbb cccc aaa", 9, 12, False) == "aaaa bbb"
    assert em("aaa aaaa;bbb cccc aaa", 9, 12, True) == "bbb cccc"
    assert em("a a;bbb c c", 4, 7, False) is None
    assert em("a a;bbb c c", 4, 7, True) is None
    assert em("a a a;bbb c*c*c", 6, 9, False) == "a a a bbb"
    assert em("a a a;bbb c*c*c", 6, 9, True) == "bbb c c c"
    assert em("a aa;bbb c*cc", 5, 8, False) == "a aa bbb"
    assert em("a aa;bbb c*cc", 5, 8, True) == "bbb c cc"
    assert em("a a a a;bbb c c c c", 8, 11, False) == "a a a bbb"
    assert em("a a a a;bbb c c c c", 8, 11, True) == "bbb c c c"
    assert em("**bbb;;", 2, 5, False) is None
    assert em("**bbb;;", 2, 5, True) is None
    assert em("+++a a;bbb c c+++", 7, 10, False) is None
    assert em("+++a a;bbb c c+++", 7, 10, True) is None
    assert em("*aaa;bbb ccc*", 5, 8, False) == "aaa bbb"
    assert em("*aaa;bbb ccc*", 5, 8, True) == "bbb ccc"
    assert em(" a a a;bbb c*c*c*", 7, 10, False) == "a a a bbb"
    assert em(" a a a;bbb c*c*c*", 7, 10, True) == "bbb c c c"


# --- AdvancedAnnotationFeaturePackTest.testExpandibility (:52-101) ------------
def test_expandibility():
    ex = K.expandibility
    q = "*aaa bbb ccc"
    anchors = [("xxx", 1), ("bbb cc", 1), ("aaax bbb", 1)]
    assert ex(q, 5, 8, anchors, True) == pytest.approx(3 / 6 - 1 / 7, abs=1e-6)
    assert ex(q, 5, 8, anchors, False) == pytest.approx(3 / 6 - 1 / 8, abs=1e-6)

    anchors = [("bbx", 1), ("bbb cc", 1), ("aaax bbb", 1)]
    assert ex(q, 5, 8, anchors, True) == pytest.approx(1 / 3 - 1 / 7, abs=1e-6)
    assert ex(q, 5, 8, anchors, False) == pytest.approx(1 / 3 - 1 / 8, abs=1e-6)

    anchors = [("bbb", 1), ("bbb cc", 1), ("aaax bbb", 1)]
    assert ex(q, 5, 8, anchors, True) == pytest.approx(0.0 - 1 / 7, abs=1e-6)
    assert ex(q, 5, 8, anchors, False) == pytest.approx(0.0 - 1 / 8, abs=1e-6)

    anchors = [("bbx", 1), ("zzz cc", 1), ("zzzz bbb", 1)]
    assert ex(q, 5, 8, anchors, True) == pytest.approx(1 / 3 - 4 / 7, abs=1e-6)
    assert ex(q, 5, 8, anchors, False) == pytest.approx(1 / 3 - 4 / 8, abs=1e-6)


# --- misc kernels -------------------------------------------------------------
def test_weighted_geometric_average():
    # exp((ln 4 * 1 + ln 9 * 1)/2) = 6
    assert K.weighted_geometric_average([4.0, 9.0], [1.0, 1.0]) == pytest.approx(6.0)


def test_min_max_avg():
    assert K.min_max_avg([]) == (0.0, 0.0, 0.0)
    assert K.min_max_avg([1.0, 3.0, 2.0]) == (1.0, 3.0, 2.0)


def test_accept_title():
    assert K.accept_title("Neil Armstrong")
    assert not K.accept_title("Talk: Moon")
    assert not K.accept_title("List of moons")
    assert not K.accept_title("Moon (disambiguation)")


def test_jaro_winkler():
    assert K.jaro_winkler("abc", "abc") == 1.0
    assert K.jaro_winkler("", "abc") == 0.0
    # classic published example
    assert K.jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert K.jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcdxy ._", max_size=16),
    st.text(alphabet="abcdxy ._", max_size=16),
)
def test_jaro_winkler_batch_matches_scalar(a, b):
    got = K.jaro_winkler_batch([a], [b])[0]
    want = K.jaro_winkler(a, b)
    assert got == pytest.approx(want, abs=1e-12)


def test_jaro_winkler_batch_mixed():
    a = ["MARTHA", "DWAYNE", "", "same", "abc", None]
    b = ["MARHTA", "DUANE", "abc", "same", "", "abc"]
    got = K.jaro_winkler_batch(a, b)
    want = [K.jaro_winkler(x or "", y or "") for x, y in zip(a, b)]
    np.testing.assert_allclose(got, want, atol=1e-12)


# --- X15: getBoldsEDCapitalizedWordcount (EntityFeaturePack.java:274-291) --
def test_bolds_ed_capitalized_wordcount_goldens():
    """Hand-derived from the Java source (no committed reference test
    exists): minEdDist starts at 1.0, capitalized counts
    uppercase-first bolds, avgNumWords uses Java String.split("\\W+")
    lengths (trailing empties dropped, leading kept)."""
    bolds = [
        ("Armstrong World Industries", 0),  # 3 words, capitalized
        ("armstrong moon", 0),              # 2 words, ED 0
        ("moon", 1),                        # 1 word
        ("the moon!", 1),                   # trailing ! -> 2 words
    ]
    ed, cap, words = K.bolds_ed_capitalized_wordcount("armstrong moon", bolds, 0)
    assert ed == pytest.approx(0.0, abs=DELTA)  # exact bold at rank 0
    assert cap == 1.0
    assert words == pytest.approx(2.5, abs=DELTA)

    ed, cap, words = K.bolds_ed_capitalized_wordcount("armstrong moon", bolds, 1)
    assert ed == pytest.approx(0.0, abs=DELTA)  # "moon" matches query tok
    assert cap == 0.0
    assert words == pytest.approx(1.5, abs=DELTA)

    # no bolds at rank -> (1.0, 0, 0) like the Java zero-count branch
    assert K.bolds_ed_capitalized_wordcount("q", bolds, 9) == (1.0, 0.0, 0.0)


def test_java_nonword_wordcount():
    assert K.java_nonword_wordcount("a b") == 2
    assert K.java_nonword_wordcount(" a") == 2   # leading empty kept
    assert K.java_nonword_wordcount("a ") == 1   # trailing dropped
    assert K.java_nonword_wordcount("a-b!") == 2
    assert K.java_nonword_wordcount("") == 1     # Java "".split -> [""]


# --- X18: decodeWikiUrl (SmaphAnnotator.java:258-273) ----------------------
def test_decode_wiki_url_goldens():
    f = K.decode_wiki_url
    assert f("https://en.wikipedia.org/wiki/Neil_Armstrong") == "Neil Armstrong"
    assert f("http://en.wikipedia.org/wiki/Neil_Armstrong") == "Neil Armstrong"
    assert f("https://en.wikipedia.org/wiki/Black%20hole") == "Black hole"
    assert f("https://en.wikipedia.org/wiki/Caf%C3%A9") == "Café"
    # URLDecoder '+' -> space
    assert f("https://en.wikipedia.org/wiki/Black+hole") == "Black hole"
    # first char uppercased by normalization
    assert f("https://en.wikipedia.org/wiki/neil_armstrong") == "Neil armstrong"
    # rejections: acceptWikipediaTitle prefixes incl. bare "List"
    for bad in ["Talk:X", "Special:Export", "Portal:Law", "Wikipedia:About",
                "Template:Infobox", "Wikipedia_talk:Foo", "File:X.png",
                "User:Bob", "Category:Planets", "List_of_planets",
                "Foo_(disambiguation)"]:
        assert f(f"https://en.wikipedia.org/wiki/{bad}") is None, bad
    # non-wiki URLs and malformed escapes -> None
    assert f("https://example.com/wiki/X") is None
    assert f("https://en.wikipedia.org/wiki/Bad%zzEscape") is None
    assert f("https://en.wikipedia.org/w/index.php?title=X") is None
    assert f(None) is None


# --- M7: batch kernels match the scalar kernels ----------------------------
_WORDS = st.text(alphabet="ab cdE", min_size=0, max_size=20)


@given(st.lists(st.tuples(_WORDS, _WORDS), min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_min_edit_dist_batch_matches_scalar(pairs):
    qs = [q for q, _ in pairs]
    bs = [b for _, b in pairs]
    batch = K.min_edit_dist_batch(qs, bs)
    for i, (q, b) in enumerate(pairs):
        assert batch[i] == pytest.approx(K.min_edit_dist(q, b), abs=1e-12)


@given(
    st.lists(st.lists(_WORDS, min_size=0, max_size=5), min_size=1, max_size=6),
    st.lists(_WORDS, min_size=1, max_size=6),
)
@settings(max_examples=30, deadline=None)
def test_fragmentation_aggregation_batch_match_scalar(lists, bolds):
    n = min(len(lists), len(bolds))
    lists, bolds = lists[:n], bolds[:n]
    fb = K.fragmentation_batch(lists, bolds)
    ab = K.aggregation_batch(lists, bolds)
    for i in range(n):
        assert fb[i] == pytest.approx(K.fragmentation(lists[i], bolds[i]), abs=1e-12)
        assert ab[i] == pytest.approx(K.aggregation(lists[i], bolds[i]), abs=1e-12)


def test_java_nonword_wordcount_all_nonword():
    assert K.java_nonword_wordcount("!!!") == 0  # all fields empty in Java


# --- X11: Porter2 / Snowball English stemmer ------------------------------
def test_porter2_known_stems():
    """Published Porter2 sample outputs (snowballstem.org English
    vocabulary; the reference stems with org.tartarus EnglishStemmer =
    Porter2 — SmaphUtils.stemString:323-335)."""
    from smaph_spark.functions.porter2 import stem

    cases = {
        "consigned": "consign", "consistency": "consist",
        "consistently": "consist", "knackeries": "knackeri",
        "knaves": "knave", "kneaded": "knead", "knees": "knee",
        "generate": "generat", "generically": "generic",
        "generously": "generous", "general": "general",
        "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
        "news": "news", "sky": "sky", "inning": "inning",
        "proceed": "proceed", "caresses": "caress", "ties": "tie",
        "cries": "cri", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "hopping": "hop",
        "tanned": "tan", "falling": "fall", "filing": "file",
        "happy": "happi", "relational": "relat",
        "conditional": "condit", "rational": "ration",
        "digitizer": "digit", "operator": "oper",
        "feudalism": "feudal", "decisiveness": "decis",
        "hopefulness": "hope", "formality": "formal",
        "sensitivity": "sensit", "sensibility": "sensibl",
        "electricity": "electr", "electrical": "electr",
        "hopeful": "hope", "goodness": "good", "revival": "reviv",
        "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "adjustable": "adjust",
        "defensible": "defens", "irritant": "irrit",
        "replacement": "replac", "adjustment": "adjust",
        "dependent": "depend", "adoption": "adopt",
        "communism": "communism", "activate": "activ",
        "homologous": "homolog", "effective": "effect",
        "bowdlerize": "bowdler", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
    }
    bad = {w: (stem(w), want) for w, want in cases.items() if stem(w) != want}
    assert not bad, bad


def test_stem_word_uses_porter2():
    assert K.stem_word("generously") == "generous"
    assert K.stem_word("happy") == "happi"
