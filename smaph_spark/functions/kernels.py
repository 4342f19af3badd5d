"""Pure-Python / numpy kernels: the pair-feature library.

These are from-scratch re-implementations of the *semantics* of the
reference string utilities (marcocor/smaph,
``src/main/java/it/unipi/di/acube/smaph/SmaphUtils.java`` — cited per
function) used as the scoring kernels of the PySpark entity-resolution
pipeline.  They are deliberately Spark-free: each scalar kernel has a
batch variant operating on numpy arrays / pandas Series so the Spark
layer can call them from Arrow-batched pandas UDFs (no per-row Python
at the Spark row level; the batch variants vectorize the DP across the
whole Arrow batch).

No code is copied from the reference (Java, different algorithms); only
input/output behavior is preserved, verified by the golden values in
``tests/test_kernels.py`` (ported from ``SmaphUtilsTest.java``).
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

import numpy as np

__all__ = [
    "levenshtein",
    "levenshtein_batch",
    "norm_edit_distance",
    "norm_edit_distance_batch",
    "norm_edit_distance_lc",
    "min_edit_dist",
    "tokenize",
    "token_positions",
    "segments",
    "segments_strings",
    "bio_sequences",
    "segmentations",
    "non_alnum_count",
    "is_sub_token",
    "collapse_binding",
    "strip_parenthetical",
    "fragmentation",
    "aggregation",
    "weighted_geometric_average",
    "min_max_avg",
    "expanded_mention",
    "expandibility",
    "accept_title",
    "stem_word",
    "jaro_winkler",
    "jaro_winkler_batch",
    "shingles",
    "jaccard",
]

# ---------------------------------------------------------------------------
# Levenshtein / normalized edit distance
# ---------------------------------------------------------------------------


def levenshtein(a: str, b: str) -> int:
    """Classic Levenshtein distance (ref: StringUtils.getLevenshteinDistance
    used by SmaphUtils.java:136)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    if len(a) > len(b):
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, 1):
        cur = [j] + [0] * len(a)
        for i, ca in enumerate(a, 1):
            cur[i] = min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb))
        prev = cur
    return prev[-1]


def _encode_batch(strs: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Pack a batch of strings into a (batch, maxlen) int32 codepoint
    matrix plus a length vector. 0 is the pad code."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    mat = np.zeros((n, maxlen), dtype=np.int32)
    for k, s in enumerate(strs):
        if s:
            mat[k, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.int32)
    return mat, lens


def levenshtein_batch(a: Sequence[str], b: Sequence[str]) -> np.ndarray:
    """Levenshtein distance for a batch of string pairs, with the DP
    vectorized ACROSS the batch (numpy ops over the batch axis), so a
    pandas UDF wrapping this does O(maxlen^2) numpy calls per Arrow
    batch instead of per-row Python DP.  Intended for short fields
    (tokens, paths, names); long content is compared via shingles.
    """
    a = ["" if x is None else str(x) for x in a]
    b = ["" if x is None else str(x) for x in b]
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    A, la = _encode_batch(a)
    B, lb = _encode_batch(b)
    ma, mb = A.shape[1], B.shape[1]
    ans = np.zeros(n, dtype=np.int64)
    # rows where a is empty: distance = len(b)
    ans[la == 0] = lb[la == 0]
    if ma == 0:
        return ans
    prev = np.broadcast_to(np.arange(mb + 1, dtype=np.int64), (n, mb + 1)).copy()
    done0 = la == 0
    for i in range(1, ma + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        ai = A[:, i - 1][:, None]  # (n,1)
        if mb > 0:
            sub = prev[:, :-1] + (ai != B).astype(np.int64)
            dele = prev[:, 1:] + 1
            best = np.minimum(sub, dele)
            # insertion needs a left-to-right scan: cur[j] = min(best[j], cur[j-1]+1)
            run = np.minimum.accumulate(
                best - np.arange(1, mb + 1, dtype=np.int64), axis=1
            )
            cur[:, 1:] = np.minimum(
                best,
                np.minimum(run + np.arange(1, mb + 1, dtype=np.int64),
                           cur[:, 0][:, None] + np.arange(1, mb + 1, dtype=np.int64)),
            )
        hit = (la == i) & ~done0
        if hit.any():
            ans[hit] = cur[hit, lb[hit]]
        prev = cur
    return ans


def norm_edit_distance(a: str, b: str) -> float:
    """Normalized edit distance in [0,1]; either side empty -> 1.
    Semantics of SmaphUtils.getNormEditDistance (SmaphUtils.java:134-139)."""
    if not a or not b:
        return 1.0
    return levenshtein(a, b) / max(len(a), len(b))


def norm_edit_distance_batch(a: Sequence[str], b: Sequence[str]) -> np.ndarray:
    a = ["" if x is None else str(x) for x in a]
    b = ["" if x is None else str(x) for x in b]
    lev = levenshtein_batch(a, b).astype(np.float64)
    la = np.fromiter((len(x) for x in a), dtype=np.float64, count=len(a))
    lb = np.fromiter((len(x) for x in b), dtype=np.float64, count=len(b))
    mx = np.maximum(la, lb)
    out = np.ones(len(a), dtype=np.float64)
    nz = (la > 0) & (lb > 0)
    out[nz] = lev[nz] / mx[nz]
    return out


_NONWORD_RUN = re.compile(r"\W+", re.ASCII)


def norm_edit_distance_lc(a: str, b: str) -> float:
    """Lowercased, \\W+ collapsed to single space (SmaphUtils.java:141-145)."""
    a = _NONWORD_RUN.sub(" ", a).lower()
    b = _NONWORD_RUN.sub(" ", b).lower()
    return norm_edit_distance(a, b)


def min_edit_dist(query: str, bold: str, min_tokens: list | None = None) -> float:
    """Average over tokens of `bold` of the min normalized edit distance
    to any token of `query` (SmaphUtils.getMinEditDist, :101-125).
    Either side tokenless -> 1.

    Comparison is case-insensitive: the reference's committed goldens
    (SmaphUtilsTest.java:21-35, ED("Armstrong","armstrong")==0) require
    it — production callers pass inputs lowercased via
    boldPairsToListLC (SmaphUtils.java:624-630).
    """
    tq = tokenize(query.lower())
    tb = tokenize(bold.lower())
    if not tb or not tq:
        return 1.0
    total = 0.0
    for tok_b in tb:
        best = None
        best_tok = None
        for tok_q in tq:
            d = norm_edit_distance(tok_b, tok_q)
            if best is None or d < best:
                best = d
                best_tok = tok_q
        if min_tokens is not None:
            min_tokens.append(best_tok)
        total += best
    return total / len(tb)


# ---------------------------------------------------------------------------
# Tokenization / segments
# ---------------------------------------------------------------------------


def tokenize(text: str) -> list[str]:
    """Whitespace tokenizer (SmaphUtils.tokenize, :369-385)."""
    return text.split() if text else []


_NONWORD = re.compile(r"[^A-Za-z0-9_]", re.ASCII)


def token_positions(text: str) -> list[tuple[int, int]]:
    """Char spans [start,end) of tokens after \\W -> ' '
    (SmaphUtils.findTokensPosition, :387-403)."""
    clean = _NONWORD.sub(" ", text or "")
    out: list[tuple[int, int]] = []
    i, n = 0, len(clean)
    while i < n:
        while i < n and clean[i] == " ":
            i += 1
        if i == n:
            break
        start = i
        while i < n and clean[i] != " ":
            i += 1
        out.append((start, i))
    return out


def segments(text: str) -> list[tuple[int, int]]:
    """All contiguous token n-gram spans, ordered by n then start
    (SmaphUtils.findSegments, :426-433)."""
    toks = token_positions(text)
    out = []
    for n in range(1, len(toks) + 1):
        for i in range(len(toks) - n + 1):
            out.append((toks[i][0], toks[i + n - 1][1]))
    return out


def segments_strings(text: str) -> list[str]:
    """String form, ordered by (start, end) (findSegmentsStrings, :405-424)."""
    words = [text[s:e] for s, e in token_positions(text)]
    out = []
    for start in range(len(words)):
        for end in range(start, len(words)):
            out.append(" ".join(words[start : end + 1]))
    return out


def _add_bio(n: int, token: str, seq: str, acc: list[str], limit: int) -> None:
    if 0 <= limit <= len(acc):
        return
    seq += token
    if n > 0:
        _add_bio(n - 1, "B", seq, acc, limit)
        if token != "O":
            _add_bio(n - 1, "I", seq, acc, limit)
        _add_bio(n - 1, "O", seq, acc, limit)
    else:
        acc.append(seq)


def bio_sequences(n: int, limit: int) -> list[str]:
    """All BIO labelings of n tokens, capped (SmaphUtils.getBioSequences,
    :435-452)."""
    acc: list[str] = []
    _add_bio(n - 1, "B", "", acc, limit)
    _add_bio(n - 1, "O", "", acc, limit)
    return acc


def segmentations(query: str, max_bio: int) -> list[list[tuple[int, int]]]:
    """All segmentations (lists of char spans) induced by BIO sequences
    (SmaphUtils.getSegmentations, :454-486)."""
    toks = token_positions(query)
    out: list[list[tuple[int, int]]] = []
    for bio in bio_sequences(len(toks), max_bio):
        start = end = -1
        seg: list[tuple[int, int]] = []
        for i, (ts, te) in enumerate(toks):
            c = bio[i]
            if start >= 0 and (c == "B" or c == "O"):
                seg.append((start, end))
                start = -1
            if c in "BI":
                if start == -1:
                    start = ts
                end = te
        if start != -1:
            seg.append((start, end))
        out.append(seg)
    return out


def non_alnum_count(s: str) -> int:
    """Count of chars outside [a-zA-Z0-9 ] (SmaphUtils.java:510-516)."""
    return sum(
        1
        for c in s
        if not ("a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9" or c == " ")
    )


def is_sub_token(tokens_a: Sequence[str], tokens_b: Sequence[str]) -> bool:
    """True iff tokens_a is a STRICT contiguous sublist of tokens_b
    (SmaphUtils.isSubToken, :537-544)."""
    la, lb = len(tokens_a), len(tokens_b)
    if la >= lb:
        return False
    ta = list(tokens_a)
    for i in range(lb - la + 1):
        if list(tokens_b[i : i + la]) == ta:
            return True
    return False


# ---------------------------------------------------------------------------
# Binding collapse (sessionize + merge) — maps to window/group ops in Spark
# ---------------------------------------------------------------------------


def collapse_binding(
    annotations: Iterable[tuple[int, int, int, float]],
) -> list[tuple[int, int, int, float]]:
    """Merge runs of consecutive same-entity annotations, averaging score;
    output (position, length, entity, score) sorted by position
    (SmaphUtils.collapseBinding, :652-682)."""
    anns = sorted(annotations, key=lambda t: (t[0], t[1]))
    if len(anns) <= 1:
        return anns
    out: list[tuple[int, int, int, float]] = []
    first = anns[0]
    score = 0.0
    count = 0
    for i, ann in enumerate(anns):
        nxt = anns[i + 1] if i + 1 < len(anns) else None
        score += ann[3]
        count += 1
        if nxt is None or nxt[2] != first[2]:
            out.append((first[0], ann[0] + ann[1] - first[0], first[2], score / count))
            first = nxt
            score = 0.0
            count = 0
    return out


_ENDPAR = re.compile(r"\s*\([^\)]*\)\s*$")


def strip_parenthetical(title: str) -> str:
    """Strip one trailing ' (…)' group (SmaphUtils.WIKITITLE_ENDPAR_REGEX
    :69 + removeTrailingParenthetical :693-695)."""
    return _ENDPAR.sub("", title)


# ---------------------------------------------------------------------------
# Stemming (light, deterministic) + fragmentation / aggregation
# ---------------------------------------------------------------------------


def stem_word(w: str) -> str:
    """Porter2 / Snowball English stemming (SmaphUtils.stemString,
    :323-335, which uses org.tartarus.snowball EnglishStemmer — the
    published Porter2 algorithm, re-implemented from the public spec in
    functions/porter2.py). Replaces round 1's light suffix-stripper."""
    from smaph_spark.functions.porter2 import stem

    return stem(w)


_HAS_ALNUM = re.compile(r"[a-zA-Z0-9]")


def _stem_tokens(s: str) -> list[str]:
    """Lowercase, drop tokens with no alphanumeric char, stem the rest.

    This is the normalization implied by the reference's committed
    goldens (SmaphUtilsTest.java:279-327): the Snowball-stemmer path
    drops pure-symbol tokens ("'", "&^*#") and the bold lists arrive
    lowercased via boldPairsToListLC (SmaphUtils.java:624-630).
    """
    return [
        stem_word(t)
        for t in tokenize(s.lower())
        if _HAS_ALNUM.search(t)
    ]


def fragmentation(bolds: Sequence[str], bold: str, power: float = 1.0) -> float:
    """boldCount / (fragments**power + boldCount); fragments = shorter
    bolds that are strict sublists of `bold`.

    Semantics of SmaphUtils.getFragmentation (:556-584). NOTE: the
    reference source applies Math.pow(fragmentsCount, 1.4), but its own
    committed goldens (SmaphUtilsTest.java:279-301, e.g. 3/7 and 1/5)
    are only reachable with exponent 1.0 — the tests encode the intended
    semantics, so 1.0 is our default and the exponent is a parameter.
    """
    tb = _stem_tokens(bold)
    bold_count = 0
    frag_count = 0
    for b in bolds:
        t = _stem_tokens(b)
        if t == tb:
            bold_count += 1
        elif is_sub_token(t, tb):
            frag_count += 1
    if bold_count == 0:
        return 0.0
    return bold_count / (frag_count**power + bold_count)


def aggregation(bolds: Sequence[str], bold: str, power: float = 1.0) -> float:
    """boldCount / (containers**power + boldCount); containers = longer
    bolds containing `bold` as a strict sublist
    (SmaphUtils.getAggregation, :595-622; exponent note as in
    :func:`fragmentation`, goldens SmaphUtilsTest.java:303-327)."""
    tb = _stem_tokens(bold)
    bold_count = 0
    agg_count = 0
    for b in bolds:
        t = _stem_tokens(b)
        if t == tb:
            bold_count += 1
        elif is_sub_token(tb, t):
            agg_count += 1
    if bold_count == 0:
        return 0.0
    return bold_count / (agg_count**power + bold_count)


def weighted_geometric_average(vals: Sequence[float], weights: Sequence[float]) -> float:
    """exp(sum(w*ln v)/sum(w)) (SmaphUtils.weightedGeometricAverage,
    :147-160)."""
    if len(vals) != len(weights):
        raise ValueError("length mismatch")
    num = sum(np.log(v) * w for v, w in zip(vals, weights))
    den = sum(weights)
    return float(np.exp(num / den))


def min_max_avg(values: Sequence[float]) -> tuple[float, float, float]:
    """(min, max, avg); empty -> (0,0,0) (SmaphUtils.getMinMaxAvg, :635-650)."""
    if not values:
        return (0.0, 0.0, 0.0)
    arr = np.asarray(values, dtype=np.float64)
    return (float(arr.min()), float(arr.max()), float(arr.mean()))


# ---------------------------------------------------------------------------
# Mention expansion (AnnotationFeaturePack.java:86-119)
# ---------------------------------------------------------------------------

_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")


def expanded_mention(query: str, beginning: int, end: int, right: bool) -> str | None:
    """Grow mention to include the next 3 non-space chars up to a word
    boundary (AnnotationFeaturePack.expandedMention, :86-103)."""
    q = _NON_ALNUM.sub(" ", query).lower()
    i = end if right else beginning - 1
    spotted = 0
    while 0 <= i < len(q):
        if q[i] != " ":
            spotted += 1
        if spotted >= 3:
            if (i == 0 or i == len(q) - 1) and q[i] != " ":
                return q[beginning : i + 1] if right else q[i:end]
            if q[i] == " ":
                return q[beginning:i] if right else q[i + 1 : end]
        i += 1 if right else -1
    return None


def expandibility(
    query: str,
    beginning: int,
    end: int,
    anchor_and_occurrences: Sequence[tuple[str, int]],
    right: bool,
) -> float:
    """min-ED(mention, anchors) − min-ED(expanded, anchors); −1 if not
    expandable (AnnotationFeaturePack.expandibility, :105-119)."""
    expanded = expanded_mention(query, beginning, end, right)
    if expanded is None:
        return -1.0
    mention = query[beginning:end]
    ed_exp = 1.0
    ed_men = 1.0
    for anchor, _occ in anchor_and_occurrences:
        ed_exp = min(ed_exp, norm_edit_distance_lc(expanded, anchor))
        ed_men = min(ed_men, norm_edit_distance_lc(mention, anchor))
    return ed_men - ed_exp


def accept_title(title: str) -> bool:
    """Title sanity filter (SmaphUtils.acceptWikipediaTitle, :167-177)."""
    bad_prefixes = (
        "Talk:", "Special:", "Portal:", "Wikipedia:", "Template:",
        "Wikipedia_talk:", "File:", "User:", "Category:", "List",
    )
    return not (title.startswith(bad_prefixes) or "(disambiguation)" in title)


# ---------------------------------------------------------------------------
# Similarity kernels new to the ER graft (north_star): Jaro-Winkler,
# char shingles, Jaccard.
# ---------------------------------------------------------------------------


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity in [0,1] (standard public definition)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    match_dist = max(la, lb) // 2 - 1
    a_match = [False] * la
    b_match = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - match_dist)
        hi = min(lb, i + match_dist + 1)
        for j in range(lo, hi):
            if not b_match[j] and b[j] == ca:
                a_match[i] = True
                b_match[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0.0
    k = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[k]:
                k += 1
            if a[i] != b[k]:
                t += 0.5
            k += 1
    jaro = (matches / la + matches / lb + (matches - t) / matches) / 3.0
    prefix = 0
    for ca, cb in zip(a, b):
        if ca == cb and prefix < 4:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def jaro_winkler_batch(a: Sequence[str], b: Sequence[str]) -> np.ndarray:
    """Jaro-Winkler vectorized ACROSS the batch (numpy state arrays;
    the only Python loop is over character positions of the longer
    string — O(maxlen) numpy ops per batch, no per-pair Python).
    Equivalent to the scalar :func:`jaro_winkler` (property-tested)."""
    a = ["" if x is None else str(x) for x in a]
    b = ["" if x is None else str(x) for x in b]
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    A, la = _encode_batch(a)
    B, lb = _encode_batch(b)
    ma, mb = A.shape[1], B.shape[1]
    out = np.zeros(n, dtype=np.float64)
    exact = np.fromiter((x == y for x, y in zip(a, b)), dtype=bool, count=n)
    if ma == 0 or mb == 0:
        out[exact] = 1.0
        return out

    d = np.maximum(la, lb) // 2 - 1  # match window radius (may be <0)
    jcols = np.arange(mb, dtype=np.int64)[None, :]
    valid_b = jcols < lb[:, None]
    b_matched = np.zeros((n, mb), dtype=bool)
    a_matched = np.zeros((n, ma), dtype=bool)
    for i in range(ma):
        active = i < la
        window = np.abs(jcols - i) <= d[:, None]
        cand = (B == A[:, i : i + 1]) & ~b_matched & window & valid_b
        cand &= active[:, None]
        has = cand.any(axis=1)
        first = cand.argmax(axis=1)
        rows = np.nonzero(has)[0]
        b_matched[rows, first[rows]] = True
        a_matched[rows, i] = True
    m = a_matched.sum(axis=1)

    # transpositions: compare matched chars in a-order vs b-order
    mm = int(m.max()) if n else 0
    t = np.zeros(n, dtype=np.float64)
    if mm > 0:
        seq_a = np.zeros((n, mm), dtype=np.int32)
        seq_b = np.zeros((n, mm), dtype=np.int32)
        ord_a = np.cumsum(a_matched, axis=1) - 1
        ord_b = np.cumsum(b_matched, axis=1) - 1
        r, c = np.nonzero(a_matched)
        seq_a[r, ord_a[r, c]] = A[r, c]
        r, c = np.nonzero(b_matched)
        seq_b[r, ord_b[r, c]] = B[r, c]
        pos_valid = np.arange(mm)[None, :] < m[:, None]
        t = ((seq_a != seq_b) & pos_valid).sum(axis=1) / 2.0

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (
            m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - t) / np.maximum(m, 1)
        ) / 3.0
    jaro[m == 0] = 0.0

    # common prefix (<=4)
    pmax = min(4, ma, mb)
    if pmax > 0:
        eq = (A[:, :pmax] == B[:, :pmax]) & (
            np.arange(pmax)[None, :] < np.minimum(la, lb)[:, None]
        )
        prefix = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    out = jaro + prefix * 0.1 * (1.0 - jaro)
    out[m == 0] = 0.0
    out[exact] = 1.0
    return out


def shingles(text: str, k: int = 5) -> set[int]:
    """Set of 64-bit hashes of the k-char shingles of `text` (content
    fingerprint for Jaccard / MinHash). Deterministic (no PYTHONHASHSEED
    dependence): polynomial rolling hash mod 2^61-1."""
    if text is None:
        return set()
    n = len(text)
    if n == 0:
        return set()
    if n < k:
        return {_poly_hash(text)}
    MOD = (1 << 61) - 1
    BASE = 1_000_003
    power = pow(BASE, k - 1, MOD)
    h = 0
    out = set()
    for i, c in enumerate(text):
        h = (h * BASE + ord(c)) % MOD
        if i >= k - 1:
            out.add(h)
            h = (h - ord(text[i - k + 1]) * power) % MOD
    return out


def _poly_hash(s: str) -> int:
    MOD = (1 << 61) - 1
    BASE = 1_000_003
    h = 0
    for c in s:
        h = (h * BASE + ord(c)) % MOD
    return h


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


# ---------------------------------------------------------------------------
# X15 — per-rank bold statistics (EntityFeaturePack.java:274-291)
# ---------------------------------------------------------------------------

def java_nonword_wordcount(s: str) -> int:
    """len(s.split("\\W+")) with Java String.split semantics: no match
    anywhere -> the original string as a single field (so "" -> 1);
    otherwise fields with ALL trailing empty strings dropped (leading
    empty kept: " a" -> 2, "a " -> 1, "!!!" -> 0). Used by
    getBoldsEDCapitalizedWordcount's avgNumWords."""
    if not re.search(r"\W", s):
        return 1
    parts = re.split(r"\W+", s)
    while parts and parts[-1] == "":
        parts.pop()
    return len(parts)


def bolds_ed_capitalized_wordcount(
    query: str, bolds_with_rank: Sequence[tuple[str, int]], rank: int
) -> tuple[float, float, float]:
    """(minEdDist, capitalized, avgNumWords) over the bolds returned at
    search rank `rank` (EntityFeaturePack.getBoldsEDCapitalizedWordcount,
    :274-291, consumed at :116,:136): min over bolds of
    getMinEditDist(query, bold) starting from 1.0; count of bolds whose
    first char is uppercase; average Java-split word count."""
    min_ed = 1.0
    capitalized = 0.0
    avg_words = 0.0
    count = 0
    for bold, r in bolds_with_rank:
        if r != rank:
            continue
        count += 1
        min_ed = min(min_ed, min_edit_dist(query, bold))
        if bold[:1].isupper():
            capitalized += 1
        avg_words += java_nonword_wordcount(bold)
    if count:
        avg_words /= count
    return (min_ed, capitalized, avg_words)


# ---------------------------------------------------------------------------
# X18 — Wikipedia URL decode + title normalize (SmaphAnnotator.java:258-273)
# ---------------------------------------------------------------------------

_WIKI_URL_RE = re.compile(r"https?://en\.wikipedia\.org/wiki/(.+)")
_BAD_PERCENT_RE = re.compile(r"%(?![0-9A-Fa-f]{2})")
#: SmaphUtils.acceptWikipediaTitle (SmaphUtils.java:167-177) — note the
#: bare "List" prefix (no colon) is the reference's own behavior
_BAD_TITLE_PREFIXES = (
    "Talk:", "Special:", "Portal:", "Wikipedia:", "Template:",
    "Wikipedia_talk:", "File:", "User:", "Category:", "List",
)


def decode_wiki_url(url: str | None) -> str | None:
    """Wikipedia URL -> page title, or None if not an accepted page
    (SmaphAnnotator.decodeWikiUrl, :258-273). Steps: WIKI_URL_PATTERN
    full match -> URLDecoder.decode (invalid %-escape -> None, like the
    caught IllegalArgumentException) -> acceptWikipediaTitle prefix
    filter -> normalize. WikipediaInterface.normalize is an external
    dependency of the reference; the standard MediaWiki normalization
    (underscores to spaces, first char uppercased, trimmed) is used."""
    import urllib.parse

    if url is None:
        return None
    m = _WIKI_URL_RE.fullmatch(url)
    if not m:
        return None
    raw = m.group(1)
    if _BAD_PERCENT_RE.search(raw):
        return None  # URLDecoder throws IllegalArgumentException
    title = urllib.parse.unquote_plus(raw)
    if any(title.startswith(p) for p in _BAD_TITLE_PREFIXES):
        return None
    if "(disambiguation)" in title:
        return None
    norm = title.replace("_", " ").strip()
    if not norm:
        return None
    return norm[0].upper() + norm[1:]


# ---------------------------------------------------------------------------
# Batch (Arrow-ready) variants of the scalar kernels (M7)
# ---------------------------------------------------------------------------

def min_edit_dist_batch(
    queries: Sequence[str], bolds: Sequence[str]
) -> np.ndarray:
    """Vectorized getMinEditDist over row pairs: all (bold-token,
    query-token) combinations across the batch go through ONE
    norm_edit_distance_batch DP, then group-min per bold token and
    group-mean per row via np.ufunc.at — no per-pair Python DP."""
    n = len(queries)
    out = np.ones(n, dtype=np.float64)
    pa: list[str] = []
    pb: list[str] = []
    tok_id: list[int] = []  # global bold-token index per pair
    tok_row: list[int] = []  # row per bold token
    n_tok = 0
    for i in range(n):
        q = queries[i] or ""
        b = bolds[i] or ""
        tq = tokenize(q.lower())
        tb = tokenize(b.lower())
        if not tq or not tb:
            continue  # stays 1.0
        for tok_b in tb:
            for tok_q in tq:
                pa.append(tok_b)
                pb.append(tok_q)
                tok_id.append(n_tok)
            tok_row.append(i)
            n_tok += 1
    if not pa:
        return out
    d = norm_edit_distance_batch(pa, pb)
    tok_min = np.full(n_tok, np.inf)
    np.minimum.at(tok_min, np.asarray(tok_id), d)
    row_sum = np.zeros(n, dtype=np.float64)
    row_cnt = np.zeros(n, dtype=np.int64)
    rows = np.asarray(tok_row)
    np.add.at(row_sum, rows, tok_min)
    np.add.at(row_cnt, rows, 1)
    has = row_cnt > 0
    out[has] = row_sum[has] / row_cnt[has]
    return out


def fragmentation_batch(
    bolds_lists: Sequence[Sequence[str]], bolds: Sequence[str],
    power: float = 1.0,
) -> np.ndarray:
    """Batch fragmentation with a per-batch stem-token cache (bold
    strings repeat heavily across rows, so stemming each distinct
    string once dominates)."""
    cache: dict[str, list[str]] = {}

    def stems(s: str) -> list[str]:
        if s not in cache:
            cache[s] = _stem_tokens(s)
        return cache[s]

    out = np.zeros(len(bolds), dtype=np.float64)
    for i, (lst, bold) in enumerate(zip(bolds_lists, bolds)):
        tb = stems(bold)
        bold_count = 0
        frag_count = 0
        for b in lst:
            t = stems(b)
            if t == tb:
                bold_count += 1
            elif is_sub_token(t, tb):
                frag_count += 1
        if bold_count:
            out[i] = bold_count / (frag_count**power + bold_count)
    return out


def aggregation_batch(
    bolds_lists: Sequence[Sequence[str]], bolds: Sequence[str],
    power: float = 1.0,
) -> np.ndarray:
    """Batch aggregation (see fragmentation_batch)."""
    cache: dict[str, list[str]] = {}

    def stems(s: str) -> list[str]:
        if s not in cache:
            cache[s] = _stem_tokens(s)
        return cache[s]

    out = np.zeros(len(bolds), dtype=np.float64)
    for i, (lst, bold) in enumerate(zip(bolds_lists, bolds)):
        tb = stems(bold)
        bold_count = 0
        agg_count = 0
        for b in lst:
            t = stems(b)
            if t == tb:
                bold_count += 1
            elif is_sub_token(tb, t):
                agg_count += 1
        if bold_count:
            out[i] = bold_count / (agg_count**power + bold_count)
    return out


# ---------------------------------------------------------------------------
# X17 — weighted anchor edit-distance aggregates
# (AnnotationFeaturePack.java:135-178)
# ---------------------------------------------------------------------------

def ed_anchors_weight_sqrt(
    segment: str, anchor_and_occurrences: Sequence[tuple[str, int]]
) -> float:
    """sum(sqrt(occ)*NED(segment.lower(), anchor)) / sum(sqrt(occ))
    (AnnotationFeaturePack.edAnchorsWeightSqrt, :135-144)."""
    num = 0.0
    den = 0.0
    for anchor, occ in anchor_and_occurrences:
        w = occ ** 0.5
        num += w * norm_edit_distance(segment.lower(), anchor)
        den += w
    return num / den if den else 1.0
