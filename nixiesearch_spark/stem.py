"""Porter stemmer — one spec, two executable forms (Python + generated SQL).

The reference's English analyzer is Lucene's ``EnglishAnalyzer``
(``config/mapping/Language.scala:52-99``): StandardTokenizer → lowercase →
stopwords → ``PorterStemFilter``. Lucene's ``PorterStemmer`` is Martin
Porter's original 1980 algorithm WITH the two departures marked in the
original C code (step2 ``bli→ble`` and ``logi→log``); this module matches
that variant.

Two implementations generated from the same rule tables, guaranteed
identical by tests/test_stem.py:

- :func:`porter_py` — pure Python; used by query-time analysis, the numpy
  oracle, and (vectorized over Arrow batches via pandas_udf) the index
  build path.
- :func:`porter_sql` — a DuckDB SQL scalar expression applying the same
  steps, so the correctness-gate oracle can reproduce stemmed-field BM25
  end-to-end in SQL.

The consonant/vowel classification runs as the same 5 regex passes in both
forms (vowels→v, other letters→c, ``^y``→c, ``cy``→cv, remaining y→c);
measure m = number of ``vc`` adjacencies. This matches Porter's recursive
y-rule on all real words (it can diverge only inside y-runs like "yyyy").
"""

from __future__ import annotations

import re

# (suffix, replacement) — longest match wins, condition m(stem) > 0
STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]
# condition m(stem) > 0
STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]
# condition m(stem) > 1; "ion" additionally requires stem ending s/t
STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def _longest_first(pairs):
    return sorted(pairs, key=lambda p: -len(p[0] if isinstance(p, tuple) else p))


STEP2 = _longest_first(STEP2)
STEP3 = _longest_first(STEP3)
STEP4 = _longest_first(STEP4)

# ---------------------------------------------------------------- python form

_VOWEL_PASS = [
    (re.compile(r"[^aeiouy]"), "c"),
    (re.compile(r"[aeiou]"), "v"),
    (re.compile(r"^y"), "c"),
    (re.compile(r"cy"), "cv"),
    (re.compile(r"y"), "c"),
]
_VC = re.compile(r"vc")


def _cv(word: str) -> str:
    for rx, rep in _VOWEL_PASS:
        word = rx.sub(rep, word)
    return word


def _m(stem: str) -> int:
    return len(_VC.findall(_cv(stem)))


def _has_vowel(stem: str) -> bool:
    return "v" in _cv(stem)


def _double_cons(word: str) -> bool:
    return len(word) >= 2 and word[-1] == word[-2] and _cv(word)[-1] == "c"


def _cvc(word: str) -> bool:
    """*o: ends consonant-vowel-consonant, last not w/x/y."""
    return _cv(word).endswith("cvc") and word[-1] not in "wxy"


def porter_py(word: str) -> str:
    """One deliberate spec deviation from Lucene: each STEP (not just entry)
    skips words of current length <= 2 — required so the chained-pass SQL
    form (which can't see the original length) stays identical. Diverges
    from Lucene only on words whose stem shrinks to 2 chars mid-pipeline
    ("ays", "ated"-as-a-word) — none occur in real English text."""
    w = word
    # step 1a
    if len(w) <= 2:
        return w
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b phase 1
    flag = False
    if len(w) > 2:
        if w.endswith("eed"):
            if _m(w[:-3]) > 0:
                w = w[:-1]
        elif w.endswith("ed"):
            if _has_vowel(w[:-2]):
                w = w[:-2]
                flag = True
        elif w.endswith("ing"):
            if _has_vowel(w[:-3]):
                w = w[:-3]
                flag = True
    # step 1b fixup
    if flag and len(w) > 2:
        if w.endswith(("at", "bl", "iz")):
            w = w + "e"
        elif _double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _m(w) == 1 and _cvc(w):
            w = w + "e"
    # step 1c
    if len(w) > 2 and w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    if len(w) > 2:
        for suf, rep in STEP2:
            if w.endswith(suf):
                if _m(w[: -len(suf)]) > 0:
                    w = w[: -len(suf)] + rep
                break
    # step 3
    if len(w) > 2:
        for suf, rep in STEP3:
            if w.endswith(suf):
                if _m(w[: -len(suf)]) > 0:
                    w = w[: -len(suf)] + rep
                break
    # step 4
    if len(w) > 2:
        for suf in STEP4:
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if _m(stem) > 1 and (suf != "ion" or stem.endswith(("s", "t"))):
                    w = stem
                break
    # step 5a
    if len(w) > 2 and w.endswith("e"):
        stem = w[:-1]
        mm = _m(stem)
        if mm > 1 or (mm == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if len(w) > 2 and w.endswith("l") and _double_cons(w) and _m(w[:-1]) > 1:
        w = w[:-1]
    return w


# ------------------------------------------------------------------- sql form
# Every helper returns a DuckDB SQL scalar expression string over the input
# expression x (a lowercase token). No variables exist in SQL expressions,
# so conditions re-inline the cv machinery; the gate runs this once per
# round, size over speed.


def _cv_sql(x: str) -> str:
    e = f"regexp_replace({x}, '[^aeiouy]', 'c', 'g')"
    e = f"regexp_replace({e}, '[aeiou]', 'v', 'g')"
    e = f"regexp_replace({e}, '^y', 'c')"
    e = f"regexp_replace({e}, 'cy', 'cv', 'g')"
    e = f"regexp_replace({e}, 'y', 'c', 'g')"
    return e


def _m_sql(x: str) -> str:
    return f"len(regexp_extract_all({_cv_sql(x)}, 'vc'))"


def _hasv_sql(x: str) -> str:
    return f"contains({_cv_sql(x)}, 'v')"


def _dbl_sql(x: str) -> str:
    return (
        f"(length({x}) >= 2 AND substr({x}, -1) = substr({x}, -2, 1)"
        f" AND substr({_cv_sql(x)}, -1) = 'c')"
    )


def _cvc_sql(x: str) -> str:
    return f"(ends_with({_cv_sql(x)}, 'cvc') AND substr({x}, -1) NOT IN ('w','x','y'))"


def _strip(x: str, n: int) -> str:
    return f"substr({x}, 1, length({x}) - {n})"


def _map_step_sql(x: str, pairs, min_m: int) -> str:
    """CASE chain: longest matching suffix; apply iff m(stem) > min_m-ish."""
    cases = []
    for suf, rep in pairs:
        stem = _strip(x, len(suf))
        cond = f"{_m_sql(stem)} > {min_m}"
        if suf == "ion":
            cond += f" AND substr({stem}, -1) IN ('s','t')"
        new = f"{stem} || '{rep}'" if rep else stem
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN (CASE WHEN {cond} THEN {new} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _step1a_sql(x: str) -> str:
    return (
        f"CASE WHEN ends_with({x}, 'sses') THEN {_strip(x, 2)} "
        f"WHEN ends_with({x}, 'ies') THEN {_strip(x, 2)} "
        f"WHEN ends_with({x}, 'ss') THEN {x} "
        f"WHEN ends_with({x}, 's') THEN {_strip(x, 1)} ELSE {x} END"
    )


def _step1b_sql(x: str) -> str:
    # phase 1 result + a did-strip marker '!' appended (letters are a-z, so
    # '!' can't collide); phase 2 keys off the marker, then removes it
    p1 = (
        f"CASE WHEN ends_with({x}, 'eed') THEN "
        f"(CASE WHEN {_m_sql(_strip(x, 3))} > 0 THEN {_strip(x, 1)} ELSE {x} END) "
        f"WHEN ends_with({x}, 'ed') THEN "
        f"(CASE WHEN {_hasv_sql(_strip(x, 2))} THEN {_strip(x, 2)} || '!' ELSE {x} END) "
        f"WHEN ends_with({x}, 'ing') THEN "
        f"(CASE WHEN {_hasv_sql(_strip(x, 3))} THEN {_strip(x, 3)} || '!' ELSE {x} END) "
        f"ELSE {x} END"
    )
    y = f"rtrim({x}, '!')"  # x here is the phase-1 output
    fixup = (
        f"CASE WHEN NOT ends_with({x}, '!') THEN {x} "
        f"WHEN ends_with({y}, 'at') OR ends_with({y}, 'bl') OR ends_with({y}, 'iz') "
        f"THEN {y} || 'e' "
        f"WHEN {_dbl_sql(y)} AND substr({y}, -1) NOT IN ('l','s','z') THEN {_strip(y, 1)} "
        f"WHEN {_m_sql(y)} = 1 AND {_cvc_sql(y)} THEN {y} || 'e' "
        f"ELSE {y} END"
    )
    return p1, fixup


def _step1c_sql(x: str) -> str:
    stem = _strip(x, 1)
    return (
        f"CASE WHEN ends_with({x}, 'y') AND {_hasv_sql(stem)} "
        f"THEN {stem} || 'i' ELSE {x} END"
    )


def _step5a_sql(x: str) -> str:
    stem = _strip(x, 1)
    return (
        f"CASE WHEN ends_with({x}, 'e') AND ({_m_sql(stem)} > 1 "
        f"OR ({_m_sql(stem)} = 1 AND NOT {_cvc_sql(stem)})) THEN {stem} ELSE {x} END"
    )


def _step5b_sql(x: str) -> str:
    return (
        f"CASE WHEN ends_with({x}, 'l') AND {_dbl_sql(x)} "
        f"AND {_m_sql(_strip(x, 1))} > 1 THEN {_strip(x, 1)} ELSE {x} END"
    )


def porter_sql(tokens_expr: str, var: str = "t") -> str:
    """DuckDB expression: stem every token in list expression ``tokens_expr``.

    Applied as chained list_transform passes (one per Porter step) because
    SQL expressions can't rebind intermediates. Words of length <= 2 pass
    through unchanged (Lucene PorterStemmer guard).
    """
    p1, fixup = _step1b_sql(var)
    steps = [
        _step1a_sql(var),
        p1,
        fixup,
        _step1c_sql(var),
        _map_step_sql(var, STEP2, 0),
        _map_step_sql(var, STEP3, 0),
        _map_step_sql(var, [(s, "") for s in STEP4], 1),
        _step5a_sql(var),
        _step5b_sql(var),
    ]
    out = tokens_expr
    # per-pass length guard (<= 2 chars pass through); rtrim strips the
    # step-1b did-strip marker so a skipped fixup pass can't leak it
    for s in steps:
        out = (
            f"list_transform({out}, {var} -> "
            f"CASE WHEN length(rtrim({var}, '!')) <= 2 THEN rtrim({var}, '!') "
            f"ELSE ({s}) END)"
        )
    return out
