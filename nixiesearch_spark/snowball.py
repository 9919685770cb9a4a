"""Snowball stemmers (German, French, Spanish, Italian, Portuguese, Dutch)
— one spec per language, two executable forms each.

The reference maps ``language: de/fr/es/it/pt/nl`` to the corresponding
Lucene analyzers (``config/mapping/Language.scala:52-99``); their stemming
layer is M.F. Porter's published Snowball algorithms (snowballstem.org —
public algorithm descriptions). This module re-implements them from the
published rule tables, the same way ``nixiesearch_spark.stem`` does for
English Porter:

- :func:`german_py` / :func:`french_py` — pure Python, one word at a time;
  used by query-time analysis, the oracle, and (memoized over Arrow batches
  via pandas_udf) the index build path.
- :func:`german_sql_ctes` / :func:`french_sql_ctes` — generated DuckDB SQL:
  a CTE chain over exploded ``(doc_id, term)`` rows, so the correctness-gate
  oracle reproduces stemmed-field BM25 end-to-end in SQL. Regions (R1/R2/RV)
  and the French control flags (step-1-altered / ment-found / 2a-failed)
  bind ONCE per step as columns — unlike the scalar-expression Porter form,
  nothing is re-inlined per suffix.

Both forms are generated to be rule-for-rule identical (tests/test_snowball.py
checks them over real vocab + hypothesis-random Latin strings).

Fidelity notes:

- The prelude's consonant-marking (u/i/y between/next to vowels → U/I/Y,
  u after q) is Snowball's exact single left-to-right cursor scan — a
  per-char loop in Python and a recursive CTE in SQL (callers compose the
  fragments under ``WITH RECURSIVE``).
- RV-limited amongs (``setlimit tomark pV``) select the longest suffix
  WITHIN RV: a longer surface suffix that pokes out of RV does not shadow
  a shorter one inside it (estaban → estab, not estaban).
- Regions are computed with regexes on the post-prelude string; suffix
  removal only ever shortens the tail, so the prefix-determined region
  starts are identical to Snowball's compute-once positions.
"""

from __future__ import annotations

import re

# ------------------------------------------------------------------ shared

_BIG = 10_000  # "empty region" sentinel: no position ever reaches it


def _r1r2_py(w: str, vowels: str, r1_min: int = 0) -> tuple[int, int]:
    """0-based region start indexes (R1, R2); a suffix starting at index p
    is "in R1" iff p >= r1."""
    v, nv = f"[{vowels}]", f"[^{vowels}]"
    m1 = re.match(f".*?{v}{nv}", w)
    r1 = len(m1.group(0)) if m1 else _BIG
    r1 = max(r1, r1_min)
    m2 = re.match(f".*?{v}{nv}.*?{v}{nv}", w)
    r2 = len(m2.group(0)) if m2 else _BIG
    return r1, r2


def _r1r2_sql(x: str, vowels: str, r1_min: int = 0) -> tuple[str, str]:
    v, nv = f"[{vowels}]", f"[^{vowels}]"
    p1 = f"^.*?{v}{nv}"
    p2 = f"^.*?{v}{nv}.*?{v}{nv}"
    r1 = (
        f"CASE WHEN regexp_matches({x}, '{p1}') "
        f"THEN length(regexp_extract({x}, '{p1}')) ELSE {_BIG} END"
    )
    if r1_min:
        r1 = f"greatest({r1}, {r1_min})"
    r2 = (
        f"CASE WHEN regexp_matches({x}, '{p2}') "
        f"THEN length(regexp_extract({x}, '{p2}')) ELSE {_BIG} END"
    )
    return r1, r2


def _strip(x: str, n: int) -> str:
    return f"substr({x}, 1, length({x}) - {n})"


def _prev_sql(x: str, n: int) -> str:
    """1-based substr index of the char just before an n-char suffix."""
    return f"substr({x}, length({x}) - {n}, 1)"

def _rv_std_py(w: str, vowels: str) -> int:
    """The standard Snowball RV rule (Spanish/Italian/Portuguese): second
    letter consonant → after the next vowel; first two letters vowels →
    after the next consonant; else (consonant-vowel) → after the third
    letter."""
    V = vowels
    if len(w) < 2:
        return _BIG
    if w[1] not in V:
        m = re.match(f"^..[^{V}]*[{V}]", w)
        return len(m.group(0)) if m else _BIG
    if w[0] in V:
        m = re.match(f"^..[{V}]*[^{V}]", w)
        return len(m.group(0)) if m else _BIG
    return 3 if len(w) > 3 else _BIG


def _rv_std_sql(x: str, vowels: str) -> str:
    """SQL form of :func:`_rv_std_py` — one spelling for every language."""
    V = vowels
    p1 = f"^..[^{V}]*[{V}]"
    p2 = f"^..[{V}]*[^{V}]"
    c1 = f"contains('{V}', substr({x}, 1, 1))"
    c2 = f"contains('{V}', substr({x}, 2, 1))"
    return (
        f"CASE WHEN length({x}) < 2 THEN {_BIG} "
        f"WHEN NOT {c2} THEN (CASE WHEN regexp_matches({x}, '{p1}') "
        f"THEN length(regexp_extract({x}, '{p1}')) ELSE {_BIG} END) "
        f"WHEN {c1} THEN (CASE WHEN regexp_matches({x}, '{p2}') "
        f"THEN length(regexp_extract({x}, '{p2}')) ELSE {_BIG} END) "
        f"WHEN length({x}) > 3 THEN 3 ELSE {_BIG} END"
    )



# ---- prelude consonant-marking: Snowball's single left-to-right scan.
# Each language supplies mark(prev, c, nxt) — prev is the EVOLVING previous
# char (a mark disables its vowel-hood for the next test), nxt the original
# next char, exactly the cursor semantics of `repeat goto (...)`.


def _scan_py(w: str, mark_fn) -> str:
    out: list[str] = []
    for i, c in enumerate(w):
        prev = out[i - 1] if i else ""
        nxt = w[i + 1] if i + 1 < len(w) else ""
        out.append(mark_fn(prev, c, nxt))
    return "".join(out)


def _scan_sql(src: str, out: str, p: str, newc_fn, base_term: str = "term") -> str:
    """Recursive-CTE form of the same scan: per row, peel one char per
    iteration, appending the (possibly marked) char to ``acc``. newc_fn
    receives (prev_expr, c_expr, nxt_expr) SQL snippets and returns the
    marked-char expression. Callers' WITH list must be WITH RECURSIVE."""
    prev = "CASE WHEN length(acc) >= 1 THEN substr(acc, length(acc), 1) ELSE '' END"
    c = "substr(rest, 1, 1)"
    nxt = "CASE WHEN length(rest) >= 2 THEN substr(rest, 2, 1) ELSE '' END"
    newc = newc_fn(prev, c, nxt)
    return f"""
{p}mk(doc_id, acc, rest) AS (
    SELECT doc_id, '', {base_term} FROM {src}
  UNION ALL
    SELECT doc_id, acc || ({newc}), substr(rest, 2)
    FROM {p}mk WHERE rest <> ''
),
{out} AS MATERIALIZED (SELECT doc_id, acc AS term FROM {p}mk WHERE rest = '')
"""


# ------------------------------------------------------------------ german
# Published Snowball German algorithm. Vowels a e i o u y ä ö ü; ß → ss and
# u/y between vowels marked U/Y (consonants) in the prelude; R1 start is
# moved to at least 3. Valid s-endings b d f g h k l m n r t; valid
# st-endings the same minus r.

DE_VOWELS = "aeiouyäöü"
DE_S_END = "bdfghklmnrt"
DE_ST_END = "bdfghklmnt"
# per-step suffix ladders, longest first (Snowball `among` longest-match)
DE_STEP1 = ["ern", "em", "er", "en", "es", "e", "s"]
DE_STEP2 = ["est", "er", "en", "st"]
DE_STEP3 = ["isch", "lich", "heit", "keit", "end", "ung", "ik", "ig"]

def _de_mark(prev: str, c: str, nxt: str) -> str:
    # NB: '' is a substring of any vowel string — the truthiness guards are
    # load-bearing at word boundaries
    if c in "uy" and prev and prev in DE_VOWELS and nxt and nxt in DE_VOWELS:
        return c.upper()
    return c


def _de_prelude_py(w: str) -> str:
    return _scan_py(w.replace("ß", "ss"), _de_mark)


def german_py(word: str) -> str:
    w = _de_prelude_py(word)
    r1, r2 = _r1r2_py(w, DE_VOWELS, r1_min=3)

    # step 1
    for suf in DE_STEP1:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if suf in ("ern", "em", "er"):
                if pos >= r1:
                    w = w[:pos]
            elif suf in ("en", "es", "e"):
                if pos >= r1:
                    w = w[:pos]
                    if w.endswith("niss"):
                        w = w[:-1]
            else:  # s
                if pos >= r1 and pos >= 1 and w[pos - 1] in DE_S_END:
                    w = w[:pos]
            break
    # step 2
    for suf in DE_STEP2:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if suf == "st":
                # st-ending char itself needs >= 3 letters before it
                if pos >= r1 and pos >= 4 and w[pos - 1] in DE_ST_END:
                    w = w[:pos]
            else:
                if pos >= r1:
                    w = w[:pos]
            break
    # step 3 (d-suffixes, R2)
    for suf in DE_STEP3:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if suf in ("end", "ung"):
                if pos >= r2:
                    w = w[:pos]
                    if w.endswith("ig") and not w.endswith("eig") and len(w) - 2 >= r2:
                        w = w[:-2]
            elif suf in ("ig", "ik", "isch"):
                if pos >= r2 and not (pos >= 1 and w[pos - 1] == "e"):
                    w = w[:pos]
            elif suf in ("lich", "heit"):
                if pos >= r2:
                    w = w[:pos]
                    if (w.endswith("er") or w.endswith("en")) and len(w) - 2 >= r1:
                        w = w[:-2]
            else:  # keit
                if pos >= r2:
                    w = w[:pos]
                    if w.endswith("lich") and len(w) - 4 >= r2:
                        w = w[:-4]
                    elif w.endswith("ig") and len(w) - 2 >= r2:
                        w = w[:-2]
            break
    # postlude: unmark, strip umlauts
    w = w.replace("U", "u").replace("Y", "y")
    return w.replace("ä", "a").replace("ö", "o").replace("ü", "u")


def _de_mark_sql(prev: str, c: str, nxt: str) -> str:
    v = DE_VOWELS
    return (
        f"CASE WHEN {c} IN ('u', 'y') AND contains('{v}', {prev}) AND {prev} <> '' "
        f"AND contains('{v}', {nxt}) AND {nxt} <> '' "
        f"THEN upper({c}) ELSE {c} END"
    )


def _in(chars: str) -> str:
    return "(" + ", ".join(f"'{c}'" for c in chars) + ")"


def _de_step1_sql(x: str) -> str:
    cases = []
    for suf in DE_STEP1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in ("ern", "em", "er"):
            act = f"CASE WHEN {pos} >= r1 THEN {st} ELSE {x} END"
        elif suf in ("en", "es", "e"):
            act = (
                f"CASE WHEN {pos} >= r1 THEN "
                f"(CASE WHEN ends_with({st}, 'niss') THEN {_strip(st, 1)} ELSE {st} END) "
                f"ELSE {x} END"
            )
        else:
            act = (
                f"CASE WHEN {pos} >= r1 AND {pos} >= 1 "
                f"AND {_prev_sql(x, n)} IN {_in(DE_S_END)} THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _de_step2_sql(x: str) -> str:
    cases = []
    for suf in DE_STEP2:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf == "st":
            act = (
                f"CASE WHEN {pos} >= r1 AND {pos} >= 4 "
                f"AND {_prev_sql(x, n)} IN {_in(DE_ST_END)} THEN {st} ELSE {x} END"
            )
        else:
            act = f"CASE WHEN {pos} >= r1 THEN {st} ELSE {x} END"
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _de_step3_sql(x: str) -> str:
    cases = []
    for suf in DE_STEP3:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in ("end", "ung"):
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'ig') AND NOT ends_with({st}, 'eig') "
                f"AND length({st}) - 2 >= r2 THEN {_strip(st, 2)} ELSE {st} END) "
                f"ELSE {x} END"
            )
        elif suf in ("ig", "ik", "isch"):
            act = (
                f"CASE WHEN {pos} >= r2 AND NOT ({pos} >= 1 AND {_prev_sql(x, n)} = 'e') "
                f"THEN {st} ELSE {x} END"
            )
        elif suf in ("lich", "heit"):
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN (ends_with({st}, 'er') OR ends_with({st}, 'en')) "
                f"AND length({st}) - 2 >= r1 THEN {_strip(st, 2)} ELSE {st} END) "
                f"ELSE {x} END"
            )
        else:  # keit
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'lich') AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} "
                f"WHEN ends_with({st}, 'ig') AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) "
                f"ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def german_sql_ctes(src: str, out: str, p: str = "de_") -> str:
    """CTE-chain fragment stemming column ``term`` of ``src(doc_id, term)``
    into ``out(doc_id, term)``. Compose inside a WITH RECURSIVE list (the
    prelude consonant-marking scan is a recursive CTE)."""
    r1, r2 = _r1r2_sql("term", DE_VOWELS, r1_min=3)
    post = (
        "replace(replace(replace(replace(replace("
        "term, 'U', 'u'), 'Y', 'y'), 'ä', 'a'), 'ö', 'o'), 'ü', 'u')"
    )
    scan = _scan_sql(src, f"{p}s0", p, _de_mark_sql, "replace(term, 'ß', 'ss')")
    return f"""
{scan.strip()},
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1, {r2} AS r2 FROM {p}s0),
{p}s1 AS MATERIALIZED (SELECT doc_id, {_de_step1_sql("term")} AS term, r1, r2 FROM {p}sr),
{p}s2 AS MATERIALIZED (SELECT doc_id, {_de_step2_sql("term")} AS term, r1, r2 FROM {p}s1),
{p}s3 AS MATERIALIZED (SELECT doc_id, {_de_step3_sql("term")} AS term FROM {p}s2),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM {p}s3)
"""


# ------------------------------------------------------------------ french
# Published Snowball French algorithm. Vowels a e i o u y â à ë é ê è ï î ô
# û ù; prelude marks u/i between vowels → U/I, y next to a vowel → Y, u
# after q → U. RV: after the 3rd letter if the word starts with two vowels
# or par/col/tap, else after the first vowel not at the start.

FR_VOWELS = "aeiouyâàëéêèïîôûù"

def _fr_mark(prev: str, c: str, nxt: str) -> str:
    """Scan priority mirrors the goto alternatives: vowel-anchored u/i/y
    first (tried at the preceding cursor position), then qu (also
    prev-anchored), then y-before-vowel."""
    V = FR_VOWELS
    if prev and prev in V:
        if c == "u" and nxt and nxt in V:
            return "U"
        if c == "i" and nxt and nxt in V:
            return "I"
        if c == "y":
            return "Y"
    if c == "u" and prev == "q":
        return "U"
    if c == "y" and nxt and nxt in V:
        return "Y"
    return c


def _fr_mark_sql(prev: str, c: str, nxt: str) -> str:
    V = FR_VOWELS
    pv = f"({prev} <> '' AND contains('{V}', {prev}))"
    nv = f"({nxt} <> '' AND contains('{V}', {nxt}))"
    return (
        f"CASE WHEN {pv} AND {c} = 'u' AND {nv} THEN 'U' "
        f"WHEN {pv} AND {c} = 'i' AND {nv} THEN 'I' "
        f"WHEN {pv} AND {c} = 'y' THEN 'Y' "
        f"WHEN {c} = 'u' AND {prev} = 'q' THEN 'U' "
        f"WHEN {c} = 'y' AND {nv} THEN 'Y' "
        f"ELSE {c} END"
    )

_FR_S1_GROUPS = {
    "A": ["ance", "ances", "iqUe", "iqUes", "isme", "ismes", "able", "ables",
          "iste", "istes", "eux"],
    "B": ["atrice", "atrices", "ateur", "ateurs", "ation", "ations"],
    "C": ["logie", "logies"],
    "D": ["usion", "usions", "ution", "utions"],
    "E": ["ence", "ences"],
    "F": ["ement", "ements"],
    "G": ["ité", "ités"],
    "H": ["if", "ifs", "ive", "ives"],
    "I": ["eaux"],
    "J": ["aux"],
    "K": ["euse", "euses"],
    "L": ["issement", "issements"],
    "M": ["amment"],
    "N": ["emment"],
    "O": ["ment", "ments"],
}
_FR_S1 = sorted(
    ((s, g) for g, ss in _FR_S1_GROUPS.items() for s in ss), key=lambda t: -len(t[0])
)

_FR_S2A = sorted(
    ["îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai", "iraIent",
     "irais", "irait", "iras", "irent", "irez", "iriez", "irions", "irons",
     "iront", "is", "issaIent", "issais", "issait", "issant", "issante",
     "issantes", "issants", "isse", "issent", "isses", "issez", "issiez",
     "issions", "issons", "it"],
    key=lambda s: (-len(s), s),
)

_FR_S2B_GROUPS = {
    "ions": ["ions"],
    "er": ["é", "ée", "ées", "és", "èrent", "erai", "eraIent", "erais",
           "erait", "eras", "erez", "eriez", "erions", "erons", "eront", "er"],
    "a": ["ât", "âmes", "âtes", "a", "ai", "aIent", "ais", "ait", "ant",
          "ante", "antes", "ants", "as", "asse", "assent", "asses",
          "assiez", "assions"],
}
_FR_S2B = sorted(
    ((s, g) for g, ss in _FR_S2B_GROUPS.items() for s in ss), key=lambda t: -len(t[0])
)

_FR_S4 = sorted(
    [("ière", "ier"), ("Ière", "ier"), ("ier", "ier"), ("Ier", "ier"),
     ("ion", "ion"), ("e", "e"), ("ë", "gue")],
    key=lambda t: -len(t[0]),
)


def _fr_prelude_py(w: str) -> str:
    return _scan_py(w, _fr_mark)


def _fr_rv_py(w: str) -> int:
    V = FR_VOWELS
    if len(w) >= 2 and w[0] in V and w[1] in V:
        return 3
    if w[:3] in ("par", "col", "tap"):
        return 3
    m = re.match(f".[^{V}]*[{V}]", w)
    return len(m.group(0)) if m else _BIG


def _fr_step1_py(w: str, rv: int, r1: int, r2: int) -> tuple[str, bool]:
    """Returns (word, ment_found)."""
    for suf, g in _FR_S1:
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if g == "A":
            if pos >= r2:
                w = w[:pos]
        elif g == "B":
            if pos >= r2:
                w = w[:pos]
                if w.endswith("ic"):
                    if len(w) - 2 >= r2:
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
        elif g == "C":
            if pos >= r2:
                w = w[:pos] + "log"
        elif g == "D":
            if pos >= r2:
                w = w[:pos] + "u"
        elif g == "E":
            if pos >= r2:
                w = w[:pos] + "ent"
        elif g == "F":
            if pos >= rv:
                w = w[:pos]
                if w.endswith("iv") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= r2:
                        w = w[:-2]
                elif w.endswith("eus"):
                    if len(w) - 3 >= r2:
                        w = w[:-3]
                    elif len(w) - 3 >= r1:
                        w = w[:-3] + "eux"
                elif (w.endswith("abl") or w.endswith("iqU")) and len(w) - 3 >= r2:
                    w = w[:-3]
                elif (w.endswith("ièr") or w.endswith("Ièr")) and len(w) - 3 >= rv:
                    w = w[:-3] + "i"
        elif g == "G":
            if pos >= r2:
                w = w[:pos]
                if w.endswith("abil"):
                    if len(w) - 4 >= r2:
                        w = w[:-4]
                    else:
                        w = w[:-4] + "abl"
                elif w.endswith("ic"):
                    if len(w) - 2 >= r2:
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
                elif w.endswith("iv") and len(w) - 2 >= r2:
                    w = w[:-2]
        elif g == "H":
            if pos >= r2:
                w = w[:pos]
                if w.endswith("at") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("ic"):
                        if len(w) - 2 >= r2:
                            w = w[:-2]
                        else:
                            w = w[:-2] + "iqU"
        elif g == "I":
            w = w[:pos] + "eau"
        elif g == "J":
            if pos >= r1:
                w = w[:pos] + "al"
        elif g == "K":
            if pos >= r2:
                w = w[:pos]
            elif pos >= r1:
                w = w[:pos] + "eux"
        elif g == "L":
            if pos >= r1 and pos >= 1 and w[pos - 1] not in FR_VOWELS:
                w = w[:pos]
        elif g == "M":
            if pos >= rv:
                w = w[:pos] + "ant"
            return w, True
        elif g == "N":
            if pos >= rv:
                w = w[:pos] + "ent"
            return w, True
        else:  # O: ment ments — delete if preceded by a vowel in RV
            if pos >= 1 and w[pos - 1] in FR_VOWELS and pos - 1 >= rv:
                w = w[:pos]
            return w, True
        return w, False
    return w, False


def french_py(word: str) -> str:
    w = _fr_prelude_py(word)
    rv = _fr_rv_py(w)
    r1, r2 = _r1r2_py(w, FR_VOWELS)

    pre1 = w
    w, ment_found = _fr_step1_py(w, rv, r1, r2)
    altered = w != pre1

    # steps 2a/2b/4 are RV-limited amongs: the longest-suffix search runs on
    # the RV region, so a longer global suffix poking out of RV must NOT
    # shadow a shorter one inside it (estaban-style words in es/it; same
    # Snowball setlimit semantics here)
    did2a = (not altered) or ment_found
    altered2a = False
    if did2a:
        pre2a = w
        for suf in _FR_S2A:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                if pos >= 1 and pos - 1 >= rv and w[pos - 1] not in FR_VOWELS:
                    w = w[:pos]
                break
        altered2a = w != pre2a
        altered = altered or altered2a

    if did2a and not altered2a:
        pre2b = w
        for suf, g in _FR_S2B:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                if g == "ions":
                    if pos >= r2:
                        w = w[:pos]
                elif g == "er":
                    w = w[:pos]
                else:  # a-group; a preceding e in RV goes too
                    w = w[:pos]
                    if w.endswith("e") and len(w) - 1 >= rv:
                        w = w[:-1]
                break
        altered = altered or (w != pre2b)

    if altered:  # step 3
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:  # step 4
        if w.endswith("s") and len(w) >= 2 and w[-2] not in "aiouès":
            w = w[:-1]
        for suf, g in _FR_S4:  # RV-limited among
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                if g == "ion":
                    if pos >= r2 and pos >= 1 and pos - 1 >= rv and w[pos - 1] in "st":
                        w = w[:pos]
                elif g == "ier":
                    w = w[:pos] + "i"
                elif g == "e":
                    w = w[:pos]
                else:  # ë after gu
                    if w[:pos].endswith("gu") and pos - 2 >= rv:
                        w = w[:pos]
                break
    # step 5: un-double
    for end in ("eill", "enn", "onn", "ett", "ell"):
        if w.endswith(end):
            w = w[:-1]
            break
    # step 6: un-accent before a final consonant run
    w = re.sub(f"[éè]([^{FR_VOWELS}]+)$", r"e\1", w)
    # postlude
    return w.replace("I", "i").replace("U", "u").replace("Y", "y")


# ---- french SQL form




def _fr_rv_sql(x: str) -> str:
    V = FR_VOWELS
    pat = f"^.[^{V}]*[{V}]"
    return (
        f"CASE WHEN length({x}) >= 2 AND contains('{V}', substr({x}, 1, 1)) "
        f"AND contains('{V}', substr({x}, 2, 1)) THEN 3 "
        f"WHEN substr({x}, 1, 3) IN ('par', 'col', 'tap') THEN 3 "
        f"WHEN regexp_matches({x}, '{pat}') "
        f"THEN length(regexp_extract({x}, '{pat}')) ELSE {_BIG} END"
    )


def _vsql(c: str) -> str:
    """char expr c is a (lowercase) French vowel"""
    return f"contains('{FR_VOWELS}', {c})"


def _fr_step1_sql(x: str) -> tuple[str, str]:
    """Returns (term CASE, ment_found CASE) over columns rv/r1/r2."""
    cases, mf = [], []
    for suf, g in _FR_S1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "A":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        elif g == "B":
            ic = _strip(st, 2)
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE WHEN ends_with({st}, 'ic') THEN "
                f"(CASE WHEN length({st}) - 2 >= r2 THEN {ic} ELSE {ic} || 'iqU' END) "
                f"ELSE {st} END) ELSE {x} END"
            )
        elif g == "C":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'log' ELSE {x} END"
        elif g == "D":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'u' ELSE {x} END"
        elif g == "E":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'ent' ELSE {x} END"
        elif g == "F":
            iv, at = _strip(st, 2), _strip(_strip(st, 2), 2)
            s3 = _strip(st, 3)
            act = (
                f"CASE WHEN {pos} >= rv THEN (CASE "
                f"WHEN ends_with({st}, 'iv') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({iv}, 'at') AND length({iv}) - 2 >= r2 "
                f"THEN {at} ELSE {iv} END) "
                f"WHEN ends_with({st}, 'eus') THEN "
                f"(CASE WHEN length({st}) - 3 >= r2 THEN {s3} "
                f"WHEN length({st}) - 3 >= r1 THEN {s3} || 'eux' ELSE {st} END) "
                f"WHEN (ends_with({st}, 'abl') OR ends_with({st}, 'iqU')) "
                f"AND length({st}) - 3 >= r2 THEN {s3} "
                f"WHEN (ends_with({st}, 'ièr') OR ends_with({st}, 'Ièr')) "
                f"AND length({st}) - 3 >= rv THEN {s3} || 'i' "
                f"ELSE {st} END) ELSE {x} END"
            )
        elif g == "G":
            ab, ic, iv = _strip(st, 4), _strip(st, 2), _strip(st, 2)
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE "
                f"WHEN ends_with({st}, 'abil') THEN "
                f"(CASE WHEN length({st}) - 4 >= r2 THEN {ab} ELSE {ab} || 'abl' END) "
                f"WHEN ends_with({st}, 'ic') THEN "
                f"(CASE WHEN length({st}) - 2 >= r2 THEN {ic} ELSE {ic} || 'iqU' END) "
                f"WHEN ends_with({st}, 'iv') AND length({st}) - 2 >= r2 THEN {iv} "
                f"ELSE {st} END) ELSE {x} END"
            )
        elif g == "H":
            at = _strip(st, 2)
            ic = _strip(at, 2)
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE "
                f"WHEN ends_with({st}, 'at') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({at}, 'ic') THEN "
                f"(CASE WHEN length({at}) - 2 >= r2 THEN {ic} ELSE {ic} || 'iqU' END) "
                f"ELSE {at} END) ELSE {st} END) ELSE {x} END"
            )
        elif g == "I":
            act = f"{st} || 'eau'"
        elif g == "J":
            act = f"CASE WHEN {pos} >= r1 THEN {st} || 'al' ELSE {x} END"
        elif g == "K":
            act = (
                f"CASE WHEN {pos} >= r2 THEN {st} "
                f"WHEN {pos} >= r1 THEN {st} || 'eux' ELSE {x} END"
            )
        elif g == "L":
            act = (
                f"CASE WHEN {pos} >= r1 AND {pos} >= 1 "
                f"AND NOT {_vsql(_prev_sql(x, n))} THEN {st} ELSE {x} END"
            )
        elif g == "M":
            act = f"CASE WHEN {pos} >= rv THEN {st} || 'ant' ELSE {x} END"
        elif g == "N":
            act = f"CASE WHEN {pos} >= rv THEN {st} || 'ent' ELSE {x} END"
        else:  # O
            act = (
                f"CASE WHEN {pos} >= 1 AND {_vsql(_prev_sql(x, n))} "
                f"AND {pos} - 1 >= rv THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
        mf.append(
            f"WHEN ends_with({x}, '{suf}') THEN {'TRUE' if g in 'MNO' else 'FALSE'}"
        )
    return (
        "CASE " + " ".join(cases) + f" ELSE {x} END",
        "CASE " + " ".join(mf) + " ELSE FALSE END",
    )


def _fr_step2a_sql(x: str) -> str:
    # RV-limited among: the suffix must lie in RV to MATCH (WHEN clause),
    # matching python's selection filter
    cases = []
    for suf in _FR_S2A:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        act = (
            f"CASE WHEN {pos} >= 1 AND {pos} - 1 >= rv "
            f"AND NOT {_vsql(_prev_sql(x, n))} THEN {_strip(x, n)} ELSE {x} END"
        )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _fr_step2b_sql(x: str) -> str:
    cases = []
    for suf, g in _FR_S2B:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "ions":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        elif g == "er":
            act = st
        else:
            act = (
                f"CASE WHEN ends_with({st}, 'e') AND length({st}) - 1 >= rv "
                f"THEN {_strip(st, 1)} ELSE {st} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _fr_step4_sql(x: str) -> str:
    # leading s-removal folded into the input expression by the caller
    cases = []
    for suf, g in _FR_S4:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "ion":
            act = (
                f"CASE WHEN {pos} >= r2 AND {pos} >= 1 AND {pos} - 1 >= rv "
                f"AND {_prev_sql(x, n)} IN ('s', 't') THEN {st} ELSE {x} END"
            )
        elif g == "ier":
            act = f"{st} || 'i'"
        elif g == "e":
            act = st
        else:  # ë after gu
            act = (
                f"CASE WHEN ends_with({st}, 'gu') "
                f"AND {pos} - 2 >= rv THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def french_sql_ctes(src: str, out: str, p: str = "fr_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out``; French
    control flow (altered / ment-found / 2a-failed) rides as bool columns."""
    r1, r2 = _r1r2_sql("term", FR_VOWELS)
    s1_term, s1_mf = _fr_step1_sql("term")
    s_removed = (
        "CASE WHEN ends_with(term, 's') AND length(term) >= 2 "
        f"AND {_prev_sql('term', 1)} NOT IN ('a', 'i', 'o', 'u', 'è', 's') "
        f"THEN {_strip('term', 1)} ELSE term END"
    )
    step3 = (
        "CASE WHEN ends_with(term, 'Y') THEN "
        f"{_strip('term', 1)} || 'i' "
        "WHEN ends_with(term, 'ç') THEN "
        f"{_strip('term', 1)} || 'c' ELSE term END"
    )
    step5 = (
        "CASE WHEN ends_with(term, 'eill') OR ends_with(term, 'enn') "
        "OR ends_with(term, 'onn') OR ends_with(term, 'ett') "
        f"OR ends_with(term, 'ell') THEN {_strip('term', 1)} ELSE term END"
    )
    step6 = f"regexp_replace(term, '[éè]([^{FR_VOWELS}]+)$', 'e\\1')"
    post = "replace(replace(replace(term, 'I', 'i'), 'U', 'u'), 'Y', 'y')"
    scan = _scan_sql(src, f"{p}s0", p, _fr_mark_sql)
    return f"""
{scan.strip()},
{p}sr AS MATERIALIZED (SELECT doc_id, term, {_fr_rv_sql("term")} AS rv, {r1} AS r1, {r2} AS r2 FROM {p}s0),
{p}s1 AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0, {s1_term} AS term, {s1_mf} AS mf FROM {p}sr),
{p}s1b AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term, (term <> t0) AS a1, mf FROM {p}s1),
{p}s2a AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0,
  CASE WHEN (NOT a1) OR mf THEN {_fr_step2a_sql("term")} ELSE term END AS term,
  a1, mf FROM {p}s1b),
{p}s2ab AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term, (a1 OR term <> t0) AS a,
  (((NOT a1) OR mf) AND term = t0) AS f2b FROM {p}s2a),
{p}s2b AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0,
  CASE WHEN f2b THEN {_fr_step2b_sql("term")} ELSE term END AS term, a FROM {p}s2ab),
{p}s2bb AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term, (a OR term <> t0) AS a FROM {p}s2b),
{p}s3 AS MATERIALIZED (SELECT doc_id, rv, r1, r2,
  CASE WHEN a THEN {step3} ELSE {s_removed} END AS term, a FROM {p}s2bb),
{p}s4 AS MATERIALIZED (SELECT doc_id, rv, r1, r2,
  CASE WHEN a THEN term ELSE {_fr_step4_sql("term")} END AS term FROM {p}s3),
{p}s5 AS MATERIALIZED (SELECT doc_id, {step5} AS term FROM {p}s4),
{p}s6 AS MATERIALIZED (SELECT doc_id, {step6} AS term FROM {p}s5),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM {p}s6)
"""


# ------------------------------------------------------------------ spanish
# Published Snowball Spanish algorithm. Vowels a e i o u á é í ó ú ü; no
# consonant-marking prelude. RV: second letter consonant → after the next
# vowel; first two letters vowels → after the next consonant; else
# (consonant-vowel) → after the third letter.

ES_VOWELS = "aeiouáéíóúü"

_ES_S0_PRON = sorted(
    ["me", "se", "sela", "selo", "selas", "selos", "la", "le", "lo",
     "las", "les", "los", "nos"],
    key=lambda s: (-len(s), s),
)
# (a) un-accent the preceding verb suffix; (b) plain; (c) yendo after u
_ES_S0_A = {"iéndo": "iendo", "ándo": "ando", "ár": "ar", "ér": "er", "ír": "ir"}
_ES_S0_B = ["ando", "iendo", "ar", "er", "ir"]

_ES_S1_GROUPS = {
    "A": ["anza", "anzas", "ico", "ica", "icos", "icas", "ismo", "ismos",
          "able", "ables", "ible", "ibles", "ista", "istas", "oso", "osa",
          "osos", "osas", "amiento", "amientos", "imiento", "imientos"],
    "B": ["adora", "ador", "ación", "adoras", "adores", "aciones", "ante",
          "antes", "ancia", "ancias"],
    "C": ["logía", "logías"],
    "D": ["ución", "uciones"],
    "E": ["encia", "encias"],
    "F": ["amente"],
    "G": ["mente"],
    "H": ["idad", "idades"],
    "I": ["iva", "ivo", "ivas", "ivos"],
}
_ES_S1 = sorted(
    ((s, g) for g, ss in _ES_S1_GROUPS.items() for s in ss), key=lambda t: -len(t[0])
)

_ES_S2A = sorted(
    ["ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó", "yas", "yes",
     "yais", "yamos"],
    key=lambda s: (-len(s), s),
)

_ES_S2B_GU = ["en", "es", "éis", "emos"]
_ES_S2B_MAIN = [
    "arían", "arías", "arán", "arás", "aríais", "aría", "aréis", "aríamos",
    "aremos", "ará", "aré", "erían", "erías", "erán", "erás", "eríais",
    "ería", "eréis", "eríamos", "eremos", "erá", "eré", "irían", "irías",
    "irán", "irás", "iríais", "iría", "iréis", "iríamos", "iremos", "irá",
    "iré", "aba", "ada", "ida", "ía", "ara", "iera", "ad", "ed", "id",
    "ase", "iese", "aste", "iste", "an", "aban", "ían", "aran", "ieran",
    "asen", "iesen", "aron", "ieron", "ado", "ido", "ando", "iendo", "ió",
    "ar", "er", "ir", "as", "abas", "adas", "idas", "ías", "aras", "ieras",
    "ases", "ieses", "ís", "áis", "abais", "íais", "arais", "ierais",
    "aseis", "ieseis", "asteis", "isteis", "ados", "idos", "amos",
    "ábamos", "íamos", "imos", "áramos", "iéramos", "iésemos", "ásemos",
]
_ES_S2B = sorted(
    [(s, "gu") for s in _ES_S2B_GU] + [(s, "m") for s in _ES_S2B_MAIN],
    key=lambda t: -len(t[0]),
)

_ES_S3_PLAIN = ["os", "a", "o", "á", "í", "ó"]
_ES_S3 = sorted(
    [(s, "p") for s in _ES_S3_PLAIN] + [("e", "gu"), ("é", "gu")],
    key=lambda t: -len(t[0]),
)


def _es_rv_py(w: str) -> int:
    return _rv_std_py(w, ES_VOWELS)


def spanish_py(word: str) -> str:
    w = word
    rv = _es_rv_py(w)
    r1, r2 = _r1r2_py(w, ES_VOWELS)

    # step 0: attached pronoun after a gerund/infinitive. RV-limited among:
    # the pronoun must lie in RV to match at all (selection filter, not a
    # post-test), the verb suffix must be in RV too, but the u of uyendo
    # may sit OUTSIDE RV (published note)
    for suf in _ES_S0_PRON:
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= rv):
            continue
        stem = w[:pos]
        done = False
        for a, rep in _ES_S0_A.items():
            if stem.endswith(a) and len(stem) - len(a) >= rv:
                w = stem[: -len(a)] + rep
                done = True
                break
        if not done:
            for b in _ES_S0_B:
                if stem.endswith(b) and len(stem) - len(b) >= rv:
                    w = stem
                    done = True
                    break
        if not done and stem.endswith("yendo") and len(stem) - 5 >= rv:
            if len(stem) >= 6 and stem[-6] == "u":
                w = stem
        break

    # step 1: standard suffixes
    pre1 = w
    for suf, g in _ES_S1:
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if g == "A":
            if pos >= r2:
                w = w[:pos]
        elif g == "B":
            if pos >= r2:
                w = w[:pos]
                if w.endswith("ic") and len(w) - 2 >= r2:
                    w = w[:-2]
        elif g == "C":
            if pos >= r2:
                w = w[:pos] + "log"
        elif g == "D":
            if pos >= r2:
                w = w[:pos] + "u"
        elif g == "E":
            if pos >= r2:
                w = w[:pos] + "ente"
        elif g == "F":  # amente
            if pos >= r1:
                w = w[:pos]
                if w.endswith("iv") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= r2:
                        w = w[:-2]
                elif (
                    (w.endswith("os") or w.endswith("ic") or w.endswith("ad"))
                    and len(w) - 2 >= r2
                ):
                    w = w[:-2]
        elif g == "G":  # mente
            if pos >= r2:
                w = w[:pos]
                if (
                    (w.endswith("ante") or w.endswith("able") or w.endswith("ible"))
                    and len(w) - 4 >= r2
                ):
                    w = w[:-4]
        elif g == "H":  # idad(es)
            if pos >= r2:
                w = w[:pos]
                if w.endswith("abil") and len(w) - 4 >= r2:
                    w = w[:-4]
                elif (w.endswith("ic") or w.endswith("iv")) and len(w) - 2 >= r2:
                    w = w[:-2]
        else:  # I: iva/ivo(s)
            if pos >= r2:
                w = w[:pos]
                if w.endswith("at") and len(w) - 2 >= r2:
                    w = w[:-2]
        break
    altered1 = w != pre1

    # 2a/2b/3 are RV-limited amongs (longest match WITHIN RV); the
    # preceding u (2a) and the u of gu (2b) need NOT be in RV — published
    # notes — while step 3's gu-u MUST be
    did2a = not altered1
    alt2a = False
    if did2a:
        pre2a = w
        for suf in _ES_S2A:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                if pos >= 1 and w[pos - 1] == "u":
                    w = w[:pos]
                break
        alt2a = w != pre2a

    if did2a and not alt2a:
        for suf, g in _ES_S2B:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                w = w[:pos]
                if g == "gu" and w.endswith("gu"):
                    w = w[:-1]
                break

    # step 3: residual vowel suffixes (always runs)
    for suf, g in _ES_S3:
        pos = len(w) - len(suf)
        if w.endswith(suf) and pos >= rv:
            if g == "p":
                w = w[:pos]
            else:  # e / é, with the gu→g extra (this u must be in RV)
                w = w[:pos]
                if w.endswith("gu") and len(w) - 1 >= rv:
                    w = w[:-1]
            break

    for a, b in (("á", "a"), ("é", "e"), ("í", "i"), ("ó", "o"), ("ú", "u")):
        w = w.replace(a, b)
    return w


def _es_rv_sql(x: str) -> str:
    return _rv_std_sql(x, ES_VOWELS)


def _es_step0_sql(x: str) -> str:
    cases = []
    for suf in _ES_S0_PRON:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        inner = []
        for a, rep in _ES_S0_A.items():
            na = len(a)
            inner.append(
                f"WHEN ends_with({st}, '{a}') AND length({st}) - {na} >= rv "
                f"THEN {_strip(st, na)} || '{rep}'"
            )
        for b in _ES_S0_B:
            nb = len(b)
            inner.append(
                f"WHEN ends_with({st}, '{b}') AND length({st}) - {nb} >= rv THEN {st}"
            )
        inner.append(
            f"WHEN ends_with({st}, 'uyendo') AND length({st}) - 5 >= rv THEN {st}"
        )
        act = f"CASE {' '.join(inner)} ELSE {x} END"
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _es_step1_sql(x: str) -> str:
    cases = []
    for suf, g in _ES_S1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "A":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        elif g == "B":
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'ic') AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "C":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'log' ELSE {x} END"
        elif g == "D":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'u' ELSE {x} END"
        elif g == "E":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'ente' ELSE {x} END"
        elif g == "F":
            iv, at = _strip(st, 2), _strip(_strip(st, 2), 2)
            act = (
                f"CASE WHEN {pos} >= r1 THEN (CASE "
                f"WHEN ends_with({st}, 'iv') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({iv}, 'at') AND length({iv}) - 2 >= r2 "
                f"THEN {at} ELSE {iv} END) "
                f"WHEN (ends_with({st}, 'os') OR ends_with({st}, 'ic') "
                f"OR ends_with({st}, 'ad')) AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "G":
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN (ends_with({st}, 'ante') OR ends_with({st}, 'able') "
                f"OR ends_with({st}, 'ible')) AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "H":
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE "
                f"WHEN ends_with({st}, 'abil') AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} "
                f"WHEN (ends_with({st}, 'ic') OR ends_with({st}, 'iv')) "
                f"AND length({st}) - 2 >= r2 THEN {_strip(st, 2)} "
                f"ELSE {st} END) ELSE {x} END"
            )
        else:
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'at') AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _es_step2a_sql(x: str) -> str:
    cases = []
    for suf in _ES_S2A:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        act = (
            f"CASE WHEN {pos} >= 1 AND {_prev_sql(x, n)} = 'u' "
            f"THEN {_strip(x, n)} ELSE {x} END"
        )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _es_step2b_sql(x: str) -> str:
    cases = []
    for suf, g in _ES_S2B:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "gu":
            act = (
                f"CASE WHEN ends_with({st}, 'gu') "
                f"THEN {_strip(st, 1)} ELSE {st} END"
            )
        else:
            act = st
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _es_step3_sql(x: str) -> str:
    cases = []
    for suf, g in _ES_S3:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "p":
            act = st
        else:
            act = (
                f"CASE WHEN ends_with({st}, 'gu') AND length({st}) - 1 >= rv "
                f"THEN {_strip(st, 1)} ELSE {st} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def spanish_sql_ctes(src: str, out: str, p: str = "es_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out`` with the
    Spanish flow (step-1-altered / 2a-failed ride as bool columns)."""
    r1, r2 = _r1r2_sql("term", ES_VOWELS)
    post = (
        "replace(replace(replace(replace(replace("
        "term, 'á', 'a'), 'é', 'e'), 'í', 'i'), 'ó', 'o'), 'ú', 'u')"
    )
    return f"""
{p}sr AS MATERIALIZED (SELECT doc_id, term, {_es_rv_sql("term")} AS rv, {r1} AS r1, {r2} AS r2 FROM {src}),
{p}s0 AS MATERIALIZED (SELECT doc_id, {_es_step0_sql("term")} AS term, rv, r1, r2 FROM {p}sr),
{p}s1 AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0, {_es_step1_sql("term")} AS term FROM {p}s0),
{p}s1b AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term, (term <> t0) AS a1 FROM {p}s1),
{p}s2a AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0,
  CASE WHEN NOT a1 THEN {_es_step2a_sql("term")} ELSE term END AS term, a1 FROM {p}s1b),
{p}s2ab AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term,
  ((NOT a1) AND term = t0) AS f2b FROM {p}s2a),
{p}s2b AS MATERIALIZED (SELECT doc_id, rv, r1, r2,
  CASE WHEN f2b THEN {_es_step2b_sql("term")} ELSE term END AS term FROM {p}s2ab),
{p}s3 AS MATERIALIZED (SELECT doc_id, {_es_step3_sql("term")} AS term FROM {p}s2b),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM {p}s3)
"""


# ------------------------------------------------------------------ italian
# Published Snowball Italian algorithm. Vowels a e i o u à è ì ò ù;
# prelude: acute → grave accents, u/i between vowels → U/I, u after q → U.
# R1/R2 standard; RV as in the Spanish stemmer.

IT_VOWELS = "aeiouàèìòù"

def _it_mark(prev: str, c: str, nxt: str) -> str:
    V = IT_VOWELS
    if c in ("u", "i") and prev and prev in V and nxt and nxt in V:
        return c.upper()
    if c == "u" and prev == "q":
        return "U"
    return c


def _it_mark_sql(prev: str, c: str, nxt: str) -> str:
    V = IT_VOWELS
    pv = f"({prev} <> '' AND contains('{V}', {prev}))"
    nv = f"({nxt} <> '' AND contains('{V}', {nxt}))"
    return (
        f"CASE WHEN {c} IN ('u', 'i') AND {pv} AND {nv} THEN upper({c}) "
        f"WHEN {c} = 'u' AND {prev} = 'q' THEN 'U' "
        f"ELSE {c} END"
    )


_IT_ACCENTS = (("á", "à"), ("é", "è"), ("í", "ì"), ("ó", "ò"), ("ú", "ù"))

_IT_S0_PRON = sorted(
    ["ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti", "vi",
     "sene", "gliela", "gliele", "glieli", "glielo", "gliene", "mela",
     "mele", "meli", "melo", "mene", "tela", "tele", "teli", "telo",
     "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
     "veli", "velo", "vene"],
    key=lambda s: (-len(s), s),
)

_IT_S1_GROUPS = {
    "A": ["anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi",
          "ismo", "ismi", "abile", "abili", "ibile", "ibili", "ista",
          "iste", "isti", "istà", "istè", "istì", "oso", "osi", "osa",
          "ose", "mente", "atrice", "atrici", "ante", "anti"],
    "B": ["azione", "azioni", "atore", "atori"],
    "C": ["logia", "logie"],
    "D": ["uzione", "uzioni", "usione", "usioni"],
    "E": ["enza", "enze"],
    "F": ["amento", "amenti", "imento", "imenti"],
    "G": ["amente"],
    "H": ["ità"],
    "I": ["ivo", "ivi", "iva", "ive"],
}
_IT_S1 = sorted(
    ((s, g) for g, ss in _IT_S1_GROUPS.items() for s in ss), key=lambda t: -len(t[0])
)

_IT_S2 = sorted(
    ["ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
     "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
     "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
     "erà", "erai", "eranno", "ere", "erebbe", "erebbero", "erei",
     "eremmo", "eremo", "ereste", "eresti", "erete", "erò", "erono",
     "essero", "ete", "eva", "evamo", "evano", "evate", "evi", "evo",
     "Yamo", "iamo", "immo", "irà", "irai", "iranno", "ire", "irebbe",
     "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti", "irete",
     "irò", "irono", "isca", "iscano", "isce", "isci", "isco", "iscono",
     "issero", "ita", "ite", "iti", "ito", "iva", "ivamo", "ivano",
     "ivate", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto", "ar", "ir"],
    key=lambda s: (-len(s), s),
)


def _it_prelude_py(w: str) -> str:
    for a, b in _IT_ACCENTS:
        w = w.replace(a, b)
    return _scan_py(w, _it_mark)


def _it_rv_py(w: str) -> int:
    return _rv_std_py(w, IT_VOWELS)


def italian_py(word: str) -> str:
    w = _it_prelude_py(word)
    rv = _it_rv_py(w)
    r1, r2 = _r1r2_py(w, IT_VOWELS)

    # step 0: attached pronoun after gerund/infinitive — RV-limited among
    # (pronoun must lie in RV to MATCH; a longer pronoun poking out of RV
    # must not shadow a shorter one inside it)
    for suf in _IT_S0_PRON:
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= rv):
            continue
        stem = w[:pos]
        if (stem.endswith("ando") or stem.endswith("endo")) and len(stem) - 4 >= rv:
            w = stem
        elif (
            (stem.endswith("ar") or stem.endswith("er") or stem.endswith("ir"))
            and len(stem) - 2 >= rv
        ):
            w = stem + "e"
        break

    # step 1
    pre1 = w
    for suf, g in _IT_S1:
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if g == "A":
            if pos >= r2:
                w = w[:pos]
        elif g == "B":
            if pos >= r2:
                w = w[:pos]
                if w.endswith("ic") and len(w) - 2 >= r2:
                    w = w[:-2]
        elif g == "C":
            if pos >= r2:
                w = w[:pos] + "log"
        elif g == "D":
            if pos >= r2:
                w = w[:pos] + "u"
        elif g == "E":
            if pos >= r2:
                w = w[:pos] + "ente"
        elif g == "F":
            if pos >= rv:
                w = w[:pos]
        elif g == "G":  # amente
            if pos >= r1:
                w = w[:pos]
                if w.endswith("iv") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= r2:
                        w = w[:-2]
                elif w.endswith("abil") and len(w) - 4 >= r2:
                    w = w[:-4]
                elif (w.endswith("os") or w.endswith("ic")) and len(w) - 2 >= r2:
                    w = w[:-2]
        elif g == "H":  # ità
            if pos >= r2:
                w = w[:pos]
                if w.endswith("abil") and len(w) - 4 >= r2:
                    w = w[:-4]
                elif (w.endswith("ic") or w.endswith("iv")) and len(w) - 2 >= r2:
                    w = w[:-2]
        else:  # I: ivo/ivi/iva/ive
            if pos >= r2:
                w = w[:pos]
                if w.endswith("at") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("ic") and len(w) - 2 >= r2:
                        w = w[:-2]
        break
    altered1 = w != pre1

    if not altered1:  # step 2: verb suffixes — RV-limited among
        for suf in _IT_S2:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                w = w[:pos]
                break

    # step 3a: final vowel (and a preceding i), in RV
    if w and w[-1] in "aeioàèìò" and len(w) - 1 >= rv:
        w = w[:-1]
        if w.endswith("i") and len(w) - 1 >= rv:
            w = w[:-1]
    # step 3b: ch/gh → c/g in RV
    if (w.endswith("ch") or w.endswith("gh")) and len(w) - 1 >= rv:
        w = w[:-1]
    return w.replace("I", "i").replace("U", "u")




def _it_rv_sql(x: str) -> str:
    return _rv_std_sql(x, IT_VOWELS)


def _it_step0_sql(x: str) -> str:
    cases = []
    for suf in _IT_S0_PRON:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        act = (
            f"CASE "
            f"WHEN (ends_with({st}, 'ando') OR ends_with({st}, 'endo')) "
            f"AND length({st}) - 4 >= rv THEN {st} "
            f"WHEN (ends_with({st}, 'ar') OR ends_with({st}, 'er') "
            f"OR ends_with({st}, 'ir')) AND length({st}) - 2 >= rv "
            f"THEN {st} || 'e' ELSE {x} END"
        )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _it_step1_sql(x: str) -> str:
    cases = []
    for suf, g in _IT_S1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "A":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        elif g == "B":
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'ic') AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "C":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'log' ELSE {x} END"
        elif g == "D":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'u' ELSE {x} END"
        elif g == "E":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'ente' ELSE {x} END"
        elif g == "F":
            act = f"CASE WHEN {pos} >= rv THEN {st} ELSE {x} END"
        elif g == "G":
            iv, at = _strip(st, 2), _strip(_strip(st, 2), 2)
            act = (
                f"CASE WHEN {pos} >= r1 THEN (CASE "
                f"WHEN ends_with({st}, 'iv') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({iv}, 'at') AND length({iv}) - 2 >= r2 "
                f"THEN {at} ELSE {iv} END) "
                f"WHEN ends_with({st}, 'abil') AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} "
                f"WHEN (ends_with({st}, 'os') OR ends_with({st}, 'ic')) "
                f"AND length({st}) - 2 >= r2 THEN {_strip(st, 2)} "
                f"ELSE {st} END) ELSE {x} END"
            )
        elif g == "H":
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE "
                f"WHEN ends_with({st}, 'abil') AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} "
                f"WHEN (ends_with({st}, 'ic') OR ends_with({st}, 'iv')) "
                f"AND length({st}) - 2 >= r2 THEN {_strip(st, 2)} "
                f"ELSE {st} END) ELSE {x} END"
            )
        else:
            at = _strip(st, 2)
            ic = _strip(at, 2)
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'at') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({at}, 'ic') AND length({at}) - 2 >= r2 "
                f"THEN {ic} ELSE {at} END) ELSE {st} END) ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _it_step2_sql(x: str) -> str:
    cases = []
    for suf in _IT_S2:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN {_strip(x, n)}"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _it_step3_sql(x: str) -> str:
    st = _strip(x, 1)
    st2 = _strip(st, 1)
    inner = (
        f"CASE WHEN ends_with({st}, 'i') AND length({st}) - 1 >= rv "
        f"THEN {st2} ELSE {st} END"
    )
    vowel_del = (
        f"CASE WHEN length({x}) >= 1 "
        f"AND contains('aeioàèìò', substr({x}, length({x}), 1)) "
        f"AND length({x}) - 1 >= rv THEN ({inner}) ELSE {x} END"
    )
    return vowel_del


def _it_step3b_sql(x: str) -> str:
    return (
        f"CASE WHEN (ends_with({x}, 'ch') OR ends_with({x}, 'gh')) "
        f"AND length({x}) - 1 >= rv THEN {_strip(x, 1)} ELSE {x} END"
    )


def italian_sql_ctes(src: str, out: str, p: str = "it_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out``."""
    r1, r2 = _r1r2_sql("term", IT_VOWELS)
    post = "replace(replace(term, 'I', 'i'), 'U', 'u')"
    acc_norm = (
        "replace(replace(replace(replace(replace("
        "term, 'á', 'à'), 'é', 'è'), 'í', 'ì'), 'ó', 'ò'), 'ú', 'ù')"
    )
    scan = _scan_sql(src, f"{p}s0", p, _it_mark_sql, acc_norm)
    return f"""
{scan.strip()},
{p}sr AS MATERIALIZED (SELECT doc_id, term, {_it_rv_sql("term")} AS rv, {r1} AS r1, {r2} AS r2 FROM {p}s0),
{p}sp AS MATERIALIZED (SELECT doc_id, {_it_step0_sql("term")} AS term, rv, r1, r2 FROM {p}sr),
{p}s1 AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0, {_it_step1_sql("term")} AS term FROM {p}sp),
{p}s2 AS MATERIALIZED (SELECT doc_id, rv, r1, r2,
  CASE WHEN term = t0 THEN {_it_step2_sql("term")} ELSE term END AS term FROM {p}s1),
{p}s3 AS MATERIALIZED (SELECT doc_id, rv, {_it_step3_sql("term")} AS term FROM {p}s2),
{p}s3b AS MATERIALIZED (SELECT doc_id, {_it_step3b_sql("term")} AS term FROM {p}s3),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM {p}s3b)
"""


# ---------------------------------------------------------------- portuguese
# Published Snowball Portuguese algorithm (snowballstem.org, M.F. Porter's
# 2005 description — same provenance as the German/French/Spanish/Italian
# sections above; the reference binds Lucene's PortugueseAnalyzer,
# config/mapping/Language.scala:87). Vowels a e i o u á é í ó ú â ê ô;
# prelude marks nasals ã → a~, õ → o~ (the tilde is a consonant); postlude
# restores them. R1/R2 standard; RV as in the Spanish stemmer.

PT_VOWELS = "aeiouáéíóúâêô"

_PT_S1_GROUPS = {
    # delete if in R2 (one flat among group — unlike Spanish there is no
    # ic-sub-rule on the adora/ador/ação family)
    "A": ["eza", "ezas", "ico", "ica", "icos", "icas", "ismo", "ismos",
          "ável", "ível", "ista", "istas", "oso", "osa", "osos", "osas",
          "amento", "amentos", "imento", "imentos", "adora", "ador",
          "aça~o", "adoras", "adores", "aço~es", "ante", "antes", "ância"],
    "C": ["logia", "logias"],        # → log if in R2
    "D": ["uça~o", "uço~es"],        # → u if in R2
    "E": ["ência", "ências"],        # → ente if in R2
    "F": ["amente"],                 # R1 delete + iv/at, os/ic/ad sub-rules
    "G": ["mente"],                  # R2 delete + ante/avel/ível sub-rule
    "H": ["idade", "idades"],        # R2 delete + abil/ic/iv sub-rule
    "I": ["iva", "ivo", "ivas", "ivos"],  # R2 delete + at sub-rule
    "J": ["ira", "iras"],            # → ir if in RV and preceded by e
}
_PT_S1 = sorted(
    ((s, g) for g, ss in _PT_S1_GROUPS.items() for s in ss), key=lambda t: -len(t[0])
)

# verb suffixes (step 2) — RV-limited among (setlimit tomark pV), full
# published table
_PT_S2 = sorted(
    ["ada", "ida", "ia", "aria", "eria", "iria", "ará", "ara", "erá",
     "era", "irá", "ava", "asse", "esse", "isse", "aste", "este", "iste",
     "ei", "arei", "erei", "irei", "am", "iam", "ariam", "eriam", "iriam",
     "aram", "eram", "iram", "avam", "em", "arem", "erem", "irem",
     "assem", "essem", "issem", "ado", "ido", "ando", "endo", "indo",
     "ara~o", "era~o", "ira~o", "ar", "er", "ir", "as", "adas", "idas",
     "ias", "arias", "erias", "irias", "arás", "aras", "erás", "eras",
     "irás", "avas", "es", "ardes", "erdes", "irdes", "ares", "eres",
     "ires", "asses", "esses", "isses", "astes", "estes", "istes", "is",
     "ais", "eis", "íeis", "aríeis", "eríeis", "iríeis", "áreis",
     "areis", "éreis", "ereis", "íreis", "ireis", "ásseis", "ésseis",
     "ísseis", "áveis", "ados", "idos", "ámos", "amos", "íamos",
     "aríamos", "eríamos", "iríamos", "áramos", "éramos", "íramos",
     "ávamos", "emos", "aremos", "eremos", "iremos", "ássemos",
     "êssemos", "íssemos", "imos", "armos", "ermos", "irmos", "eu",
     "iu", "ou", "ira", "iras"],
    key=lambda s: (-len(s), s),
)

_PT_S4 = ["os", "a", "i", "o", "á", "í", "ó"]  # residual, RV post-test


def _pt_prelude_py(w: str) -> str:
    return w.replace("ã", "a~").replace("õ", "o~")


def _pt_postlude_py(w: str) -> str:
    return w.replace("a~", "ã").replace("o~", "õ")


def portuguese_py(word: str) -> str:
    w = _pt_prelude_py(word)
    rv = _rv_std_py(w, PT_VOWELS)
    r1, r2 = _r1r2_py(w, PT_VOWELS)

    # step 1: standard suffixes — surface longest-match among, region
    # conditions are post-tests (no backtracking to shorter suffixes)
    pre1 = w
    for suf, g in _PT_S1:
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if g == "A":
            if pos >= r2:
                w = w[:pos]
        elif g == "C":
            if pos >= r2:
                w = w[:pos] + "log"
        elif g == "D":
            if pos >= r2:
                w = w[:pos] + "u"
        elif g == "E":
            if pos >= r2:
                w = w[:pos] + "ente"
        elif g == "F":  # amente: R1 delete, then iv(at) else os/ic/ad in R2
            if pos >= r1:
                w = w[:pos]
                if w.endswith("iv") and len(w) - 2 >= r2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= r2:
                        w = w[:-2]
                elif (
                    (w.endswith("os") or w.endswith("ic") or w.endswith("ad"))
                    and len(w) - 2 >= r2
                ):
                    w = w[:-2]
        elif g == "G":  # mente: R2 delete + ante/avel/ível
            if pos >= r2:
                w = w[:pos]
                if (
                    (w.endswith("ante") or w.endswith("avel") or w.endswith("ível"))
                    and len(w) - 4 >= r2
                ):
                    w = w[:-4]
        elif g == "H":  # idade(s): R2 delete + abil/ic/iv
            if pos >= r2:
                w = w[:pos]
                if w.endswith("abil") and len(w) - 4 >= r2:
                    w = w[:-4]
                elif (w.endswith("ic") or w.endswith("iv")) and len(w) - 2 >= r2:
                    w = w[:-2]
        elif g == "I":  # iva/ivo(s): R2 delete + at
            if pos >= r2:
                w = w[:pos]
                if w.endswith("at") and len(w) - 2 >= r2:
                    w = w[:-2]
        else:  # J: ira/iras → ir if in RV and preceded by e
            if pos >= rv and pos >= 1 and w[pos - 1] == "e":
                w = w[:pos] + "ir"
        break
    altered1 = w != pre1

    # step 2: verb suffixes, only if step 1 removed nothing; RV-limited
    # among — a longer suffix poking out of RV does not shadow a shorter
    # one inside it
    altered2 = False
    if not altered1:
        pre2 = w
        for suf in _PT_S2:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                w = w[:pos]
                break
        altered2 = w != pre2

    # step 3: if 1 or 2 altered — delete trailing i in RV preceded by c
    if altered1 or altered2:
        if w.endswith("i") and len(w) - 1 >= rv and len(w) >= 2 and w[-2] == "c":
            w = w[:-1]
    else:
        # step 4: residual suffix (only when neither 1 nor 2 fired)
        for suf in _PT_S4:
            if w.endswith(suf):
                pos = len(w) - len(suf)
                if pos >= rv:
                    w = w[:pos]
                break

    # step 5 (always): e/é/ê in RV → delete, then gu/ci with u/i in RV →
    # drop the u/i; else trailing ç → c
    if w and w[-1] in "eéê" and len(w) - 1 >= rv:
        w = w[:-1]
        if (
            (w.endswith("gu") or w.endswith("ci"))
            and len(w) - 1 >= rv
        ):
            w = w[:-1]
    elif w.endswith("ç"):
        w = w[:-1] + "c"
    return _pt_postlude_py(w)


# ---- portuguese SQL form


def _pt_rv_sql(x: str) -> str:
    return _rv_std_sql(x, PT_VOWELS)


def _pt_step1_sql(x: str) -> str:
    cases = []
    for suf, g in _PT_S1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if g == "A":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        elif g == "C":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'log' ELSE {x} END"
        elif g == "D":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'u' ELSE {x} END"
        elif g == "E":
            act = f"CASE WHEN {pos} >= r2 THEN {st} || 'ente' ELSE {x} END"
        elif g == "F":
            iv, at = _strip(st, 2), _strip(_strip(st, 2), 2)
            act = (
                f"CASE WHEN {pos} >= r1 THEN (CASE "
                f"WHEN ends_with({st}, 'iv') AND length({st}) - 2 >= r2 THEN "
                f"(CASE WHEN ends_with({iv}, 'at') AND length({iv}) - 2 >= r2 "
                f"THEN {at} ELSE {iv} END) "
                f"WHEN (ends_with({st}, 'os') OR ends_with({st}, 'ic') "
                f"OR ends_with({st}, 'ad')) AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "G":
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN (ends_with({st}, 'ante') OR ends_with({st}, 'avel') "
                f"OR ends_with({st}, 'ível')) AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} ELSE {st} END) ELSE {x} END"
            )
        elif g == "H":
            act = (
                f"CASE WHEN {pos} >= r2 THEN (CASE "
                f"WHEN ends_with({st}, 'abil') AND length({st}) - 4 >= r2 "
                f"THEN {_strip(st, 4)} "
                f"WHEN (ends_with({st}, 'ic') OR ends_with({st}, 'iv')) "
                f"AND length({st}) - 2 >= r2 THEN {_strip(st, 2)} "
                f"ELSE {st} END) ELSE {x} END"
            )
        elif g == "I":
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'at') AND length({st}) - 2 >= r2 "
                f"THEN {_strip(st, 2)} ELSE {st} END) ELSE {x} END"
            )
        else:  # J: ira/iras → ir if in RV and preceded by e
            act = (
                f"CASE WHEN {pos} >= rv AND {pos} >= 1 "
                f"AND {_prev_sql(x, n)} = 'e' THEN {st} || 'ir' ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _pt_step2_sql(x: str) -> str:
    cases = []
    for suf in _PT_S2:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN {_strip(x, n)}"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _pt_step4_sql(x: str) -> str:
    cases = []
    for suf in _PT_S4:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        act = f"CASE WHEN {pos} >= rv THEN {_strip(x, n)} ELSE {x} END"
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _pt_step5_sql(x: str) -> str:
    st = _strip(x, 1)
    gu = (
        f"CASE WHEN (ends_with({st}, 'gu') OR ends_with({st}, 'ci')) "
        f"AND length({st}) - 1 >= rv THEN {_strip(st, 1)} ELSE {st} END"
    )
    return (
        f"CASE WHEN substr({x}, length({x}), 1) IN ('e', 'é', 'ê') "
        f"AND length({x}) - 1 >= rv THEN ({gu}) "
        f"WHEN ends_with({x}, 'ç') THEN {st} || 'c' "
        f"ELSE {x} END"
    )


def portuguese_sql_ctes(src: str, out: str, p: str = "pt_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out`` with the
    Portuguese flow (step-1/2-altered flags ride as bool columns). The
    prelude/postlude are plain nasal replacements — no recursive scan."""
    r1, r2 = _r1r2_sql("term", PT_VOWELS)
    pre = "replace(replace(term, 'ã', 'a~'), 'õ', 'o~')"
    post = "replace(replace(term, 'a~', 'ã'), 'o~', 'õ')"
    ci = (
        "CASE WHEN ends_with(term, 'i') AND length(term) - 1 >= rv "
        "AND length(term) >= 2 AND substr(term, length(term) - 1, 1) = 'c' "
        f"THEN {_strip('term', 1)} ELSE term END"
    )
    return f"""
{p}pre AS MATERIALIZED (SELECT doc_id, {pre} AS term FROM {src}),
{p}sr AS MATERIALIZED (SELECT doc_id, term, {_pt_rv_sql("term")} AS rv, {r1} AS r1, {r2} AS r2 FROM {p}pre),
{p}s1 AS MATERIALIZED (SELECT doc_id, rv, r1, r2, term AS t0, {_pt_step1_sql("term")} AS term FROM {p}sr),
{p}s1b AS MATERIALIZED (SELECT doc_id, rv, term, (term <> t0) AS a1 FROM {p}s1),
{p}s2 AS MATERIALIZED (SELECT doc_id, rv, term AS t0,
  CASE WHEN NOT a1 THEN {_pt_step2_sql("term")} ELSE term END AS term, a1 FROM {p}s1b),
{p}s2b AS MATERIALIZED (SELECT doc_id, rv, term, (a1 OR term <> t0) AS alt FROM {p}s2),
{p}s34 AS MATERIALIZED (SELECT doc_id, rv,
  CASE WHEN alt THEN {ci} ELSE {_pt_step4_sql("term")} END AS term FROM {p}s2b),
{p}s5 AS MATERIALIZED (SELECT doc_id, {_pt_step5_sql("term")} AS term FROM {p}s34),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM {p}s5)
"""


# ------------------------------------------------------------------- dutch
# Published Snowball Dutch algorithm (snowballstem.org; the reference binds
# Lucene's DutchAnalyzer, config/mapping/Language.scala:85). Vowels
# a e i o u y è. Prelude: strip umlauts/acutes, then mark initial y, y
# after a vowel, and i between vowels as consonants (Y/I) with the same
# evolving-cursor scan as German. R1 start is moved to at least 3.

NL_VOWELS = "aeiouyè"

_NL_ACCENTS = (
    ("ä", "a"), ("ë", "e"), ("ï", "i"), ("ö", "o"), ("ü", "u"),
    ("á", "a"), ("é", "e"), ("í", "i"), ("ó", "o"), ("ú", "u"),
)


def _nl_mark(prev: str, c: str, nxt: str) -> str:
    if c == "y" and (prev == "" or prev in NL_VOWELS):
        return "Y"
    if c == "i" and prev and prev in NL_VOWELS and nxt and nxt in NL_VOWELS:
        return "I"
    return c


def _nl_prelude_py(w: str) -> str:
    for a, b in _NL_ACCENTS:
        w = w.replace(a, b)
    return _scan_py(w, _nl_mark)


def _nl_undouble(w: str) -> str:
    return w[:-1] if w.endswith(("kk", "dd", "tt")) else w


def _nl_valid_s(ch: str) -> bool:
    return bool(ch) and ch not in NL_VOWELS and ch != "j"


def _nl_valid_en(stem: str) -> bool:
    return (
        bool(stem)
        and stem[-1] not in NL_VOWELS
        and not stem.endswith("gem")
    )


def dutch_py(word: str) -> str:
    w = _nl_prelude_py(word)
    r1, r2 = _r1r2_py(w, NL_VOWELS, r1_min=3)

    # step 1: heden / ene en / se s (longest surface among, post-tests)
    for suf in ("heden", "ene", "en", "se", "s"):
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if suf == "heden":
            if pos >= r1:
                w = w[:pos] + "heid"
        elif suf in ("ene", "en"):
            if pos >= r1 and _nl_valid_en(w[:pos]):
                w = _nl_undouble(w[:pos])
        else:  # se / s
            if pos >= r1 and pos >= 1 and _nl_valid_s(w[pos - 1]):
                w = w[:pos]
        break

    # step 2: delete final e if in R1 and preceded by a non-vowel; undouble
    e_found = False
    if w.endswith("e") and len(w) - 1 >= r1 and len(w) >= 2 and w[-2] not in NL_VOWELS:
        w = _nl_undouble(w[:-1])
        e_found = True

    # step 3a: heid (not preceded by c, R2), then an en as in step 1b
    if w.endswith("heid") and len(w) - 4 >= r2 and not (len(w) >= 5 and w[-5] == "c"):
        w = w[:-4]
        if w.endswith("en") and len(w) - 2 >= r1 and _nl_valid_en(w[:-2]):
            w = _nl_undouble(w[:-2])

    # step 3b: d-suffixes (longest surface among)
    for suf in ("lijk", "baar", "end", "ing", "bar", "ig"):
        if not w.endswith(suf):
            continue
        pos = len(w) - len(suf)
        if suf in ("end", "ing"):
            if pos >= r2:
                w = w[:pos]
                if (
                    w.endswith("ig")
                    and len(w) - 2 >= r2
                    and not (len(w) >= 3 and w[-3] == "e")
                ):
                    w = w[:-2]
                else:
                    w = _nl_undouble(w)
        elif suf == "ig":
            if pos >= r2 and not (pos >= 1 and w[pos - 1] == "e"):
                w = w[:pos]
        elif suf == "lijk":
            if pos >= r2:
                w = w[:pos]
                # repeat step 2
                if (
                    w.endswith("e")
                    and len(w) - 1 >= r1
                    and len(w) >= 2
                    and w[-2] not in NL_VOWELS
                ):
                    w = _nl_undouble(w[:-1])
        elif suf == "baar":
            if pos >= r2:
                w = w[:pos]
        else:  # bar — only if step 2 actually removed an e
            if pos >= r2 and e_found:
                w = w[:pos]
        break

    # step 4: undouble vowel — ...C V V D (D ≠ I) → drop one vowel
    if len(w) >= 4:
        c4, v1, v2, d = w[-4], w[-3], w[-2], w[-1]
        if (
            c4 not in NL_VOWELS
            and d not in NL_VOWELS
            and d != "I"
            and v1 == v2
            and v1 in "aeou"
        ):
            w = w[:-2] + d

    return w.replace("I", "i").replace("Y", "y")


# ---- dutch SQL form


def _nl_mark_sql(prev: str, c: str, nxt: str) -> str:
    V = NL_VOWELS
    pv = f"({prev} <> '' AND contains('{V}', {prev}))"
    nv = f"({nxt} <> '' AND contains('{V}', {nxt}))"
    return (
        f"CASE WHEN {c} = 'y' AND ({prev} = '' OR {pv}) THEN 'Y' "
        f"WHEN {c} = 'i' AND {pv} AND {nv} THEN 'I' "
        f"ELSE {c} END"
    )


def _nl_undouble_sql(x: str) -> str:
    return (
        f"CASE WHEN ends_with({x}, 'kk') OR ends_with({x}, 'dd') "
        f"OR ends_with({x}, 'tt') THEN {_strip(x, 1)} ELSE {x} END"
    )


def _nl_valid_en_sql(st: str) -> str:
    V = NL_VOWELS
    last = f"substr({st}, length({st}), 1)"
    return (
        f"({st} <> '' AND NOT contains('{V}', {last}) "
        f"AND NOT ends_with({st}, 'gem'))"
    )


def _nl_step1_sql(x: str) -> str:
    V = NL_VOWELS
    cases = []
    for suf in ("heden", "ene", "en", "se", "s"):
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf == "heden":
            act = f"CASE WHEN {pos} >= r1 THEN {st} || 'heid' ELSE {x} END"
        elif suf in ("ene", "en"):
            act = (
                f"CASE WHEN {pos} >= r1 AND {_nl_valid_en_sql(st)} "
                f"THEN {_nl_undouble_sql(st)} ELSE {x} END"
            )
        else:
            prev = _prev_sql(x, n)
            act = (
                f"CASE WHEN {pos} >= r1 AND {pos} >= 1 "
                f"AND NOT contains('{V}', {prev}) AND {prev} <> 'j' "
                f"THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _nl_step2_sql(x: str) -> str:
    V = NL_VOWELS
    prev = _prev_sql(x, 1)
    return (
        f"CASE WHEN ends_with({x}, 'e') AND length({x}) - 1 >= r1 "
        f"AND length({x}) >= 2 AND NOT contains('{V}', {prev}) "
        f"THEN {_nl_undouble_sql(_strip(x, 1))} ELSE {x} END"
    )


def _nl_step3a_sql(x: str) -> str:
    st = _strip(x, 4)
    en = _strip(st, 2)
    inner = (
        f"CASE WHEN ends_with({st}, 'en') AND length({st}) - 2 >= r1 "
        f"AND {_nl_valid_en_sql(en)} THEN {_nl_undouble_sql(en)} ELSE {st} END"
    )
    return (
        f"CASE WHEN ends_with({x}, 'heid') AND length({x}) - 4 >= r2 "
        f"AND NOT (length({x}) >= 5 AND substr({x}, length({x}) - 4, 1) = 'c') "
        f"THEN ({inner}) ELSE {x} END"
    )


def _nl_step3b_sql(x: str) -> str:
    cases = []
    for suf in ("lijk", "baar", "end", "ing", "bar", "ig"):
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in ("end", "ing"):
            ig = _strip(st, 2)
            act = (
                f"CASE WHEN {pos} >= r2 THEN "
                f"(CASE WHEN ends_with({st}, 'ig') AND length({st}) - 2 >= r2 "
                f"AND NOT (length({st}) >= 3 AND substr({st}, length({st}) - 2, 1) = 'e') "
                f"THEN {ig} ELSE {_nl_undouble_sql(st)} END) ELSE {x} END"
            )
        elif suf == "ig":
            act = (
                f"CASE WHEN {pos} >= r2 AND NOT ({pos} >= 1 "
                f"AND {_prev_sql(x, n)} = 'e') THEN {st} ELSE {x} END"
            )
        elif suf == "lijk":
            act = (
                f"CASE WHEN {pos} >= r2 THEN ({_nl_step2_sql(st)}) ELSE {x} END"
            )
        elif suf == "baar":
            act = f"CASE WHEN {pos} >= r2 THEN {st} ELSE {x} END"
        else:  # bar
            act = f"CASE WHEN {pos} >= r2 AND e_found THEN {st} ELSE {x} END"
        cases.append(f"WHEN ends_with({x}, '{suf}') THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _nl_step4_sql(x: str) -> str:
    V = NL_VOWELS
    c4 = f"substr({x}, length({x}) - 3, 1)"
    v1 = f"substr({x}, length({x}) - 2, 1)"
    v2 = f"substr({x}, length({x}) - 1, 1)"
    d = f"substr({x}, length({x}), 1)"
    return (
        f"CASE WHEN length({x}) >= 4 AND NOT contains('{V}', {c4}) "
        f"AND NOT contains('{V}', {d}) AND {d} <> 'I' "
        f"AND {v1} = {v2} AND contains('aeou', {v1}) "
        f"THEN {_strip(x, 2)} || {d} ELSE {x} END"
    )


def dutch_sql_ctes(src: str, out: str, p: str = "nl_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out`` with the
    Dutch flow. The prelude consonant-marking is the exact cursor scan —
    a recursive CTE — so callers' WITH list must be WITH RECURSIVE (the
    same contract as german/french)."""
    r1, r2 = _r1r2_sql("term", NL_VOWELS, r1_min=3)
    deacc = "term"
    for a, b in _NL_ACCENTS:
        deacc = f"replace({deacc}, '{a}', '{b}')"
    scan = _scan_sql(f"{p}da", f"{p}mkd", p, _nl_mark_sql)
    post = "replace(replace(term, 'I', 'i'), 'Y', 'y')"
    return f"""
{p}da AS MATERIALIZED (SELECT doc_id, {deacc} AS term FROM {src}),
{scan.strip()},
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1, {r2} AS r2 FROM {p}mkd),
{p}s1 AS MATERIALIZED (SELECT doc_id, r1, r2, {_nl_step1_sql("term")} AS term FROM {p}sr),
{p}s2 AS MATERIALIZED (SELECT doc_id, r1, r2, term AS t0, {_nl_step2_sql("term")} AS term FROM {p}s1),
{p}s2b AS MATERIALIZED (SELECT doc_id, r1, r2, term, (term <> t0) AS e_found FROM {p}s2),
{p}s3a AS MATERIALIZED (SELECT doc_id, r1, r2, e_found, {_nl_step3a_sql("term")} AS term FROM {p}s2b),
{p}s3b AS MATERIALIZED (SELECT doc_id, {_nl_step3b_sql("term")} AS term FROM {p}s3a),
{out} AS MATERIALIZED (SELECT doc_id, {post} AS term FROM (SELECT doc_id, {_nl_step4_sql("term")} AS term FROM {p}s3b))
"""


# ------------------------------------------------------------------ russian
# Published Snowball Russian algorithm (snowballstem.org; the reference
# binds Lucene's RussianAnalyzer, config/mapping/Language.scala:91).
# Vowels а е и о у ы э ю я; prelude ё → е; RV = region after the first
# vowel; R2 standard. EVERY suffix test — including the а/я that must
# precede a group-1 gerund/participle/verb ending — runs inside RV
# (ru.sbl wraps the whole backwards section in `setlimit tomark pV`).

RU_VOWELS = "аеиоуыэюя"

_RU_PGERUND_1 = ["вшись", "вши", "в"]  # preceded by а/я (in RV)
_RU_PGERUND_2 = ["ившись", "ывшись", "ивши", "ывши", "ив", "ыв"]
_RU_ADJ = sorted(
    ["ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой", "ем",
     "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых", "ую", "юю",
     "ая", "яя", "ою", "ею"],
    key=lambda s: (-len(s), s),
)
_RU_PART_1 = ["ем", "нн", "вш", "ющ", "щ"]  # preceded by а/я (in RV)
_RU_PART_2 = ["ивш", "ывш", "ующ"]
_RU_VERB_1 = ["ла", "на", "ете", "йте", "ли", "й", "л", "ем", "н", "ло",
              "но", "ет", "ют", "ны", "ть", "ешь", "нно"]  # preceded by а/я
_RU_VERB_2 = ["ила", "ыла", "ена", "ейте", "уйте", "ите", "или", "ыли",
              "ей", "уй", "ил", "ыл", "им", "ым", "ен", "ило", "ыло",
              "ено", "ят", "ует", "уют", "ит", "ыт", "ены", "ить", "ыть",
              "ишь", "ую", "ю"]
_RU_NOUN = ["а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами", "еи",
            "ии", "и", "ией", "ей", "ой", "ий", "й", "иям", "ям", "ием",
            "ем", "ам", "ом", "о", "у", "ах", "иях", "ях", "ы", "ь", "ию",
            "ью", "ю", "ия", "ья", "я"]


def _ru_rv_py(w: str) -> int:
    for i, ch in enumerate(w):
        if ch in RU_VOWELS:
            return i + 1
    return _BIG


def _ru_try(w: str, rv: int, g1: list[str], g2: list[str]) -> str | None:
    """Longest among over g1∪g2 within RV; g1 entries additionally need а/я
    immediately before (itself inside RV). Among semantics: the longest
    surface match within RV decides; a failed g1 а/я test means NO removal
    (no backtracking to shorter suffixes)."""
    for suf in sorted(set(g1) | set(g2), key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= rv):
            continue
        if suf in g2:
            return w[:pos]
        # group 1 (may also be in g2 — g2 takes precedence above)
        if pos >= rv + 1 and w[pos - 1] in "ая":
            return w[:pos]
        return None
    return None


def russian_py(word: str) -> str:
    w = word.replace("ё", "е")
    rv = _ru_rv_py(w)
    _, r2 = _r1r2_py(w, RU_VOWELS)

    # step 1: perfective gerund, else (reflexive?) adjectival | verb | noun
    out = _ru_try(w, rv, _RU_PGERUND_1, _RU_PGERUND_2)
    if out is not None:
        w = out
    else:
        for suf in ("ся", "сь"):
            if w.endswith(suf) and len(w) - len(suf) >= rv:
                w = w[: -len(suf)]
                break
        # adjectival = adjective, then optionally a participle before it
        done = False
        for suf in _RU_ADJ:
            pos = len(w) - len(suf)
            if w.endswith(suf) and pos >= rv:
                w = w[:pos]
                p = _ru_try(w, rv, _RU_PART_1, _RU_PART_2)
                if p is not None:
                    w = p
                done = True
                break
        if not done:
            out = _ru_try(w, rv, _RU_VERB_1, _RU_VERB_2)
            if out is not None:
                w = out
            else:
                for suf in sorted(set(_RU_NOUN), key=lambda s: (-len(s), s)):
                    pos = len(w) - len(suf)
                    if w.endswith(suf) and pos >= rv:
                        w = w[:pos]
                        break

    # step 2: trailing и
    if w.endswith("и") and len(w) - 1 >= rv:
        w = w[:-1]

    # step 3: derivational ост/ость in R2
    for suf in ("ость", "ост"):
        pos = len(w) - len(suf)
        if w.endswith(suf) and pos >= r2:
            w = w[:pos]
            break

    # step 4: ейш(е) removal then undouble н; or undouble н; or drop ь
    done4 = False
    for suf in ("ейше", "ейш"):
        pos = len(w) - len(suf)
        if w.endswith(suf) and pos >= rv:
            w = w[:pos]
            done4 = True
            break
    # undouble н: the [substring] 'н' match AND the preceding-н test both
    # run inside the RV limit — so the SECOND н must be in RV too
    if w.endswith("нн") and len(w) - 2 >= rv:
        w = w[:-1]
    elif not done4 and w.endswith("ь") and len(w) - 1 >= rv:
        w = w[:-1]
    return w


# ---- russian SQL form


def _ru_rv_sql(x: str) -> str:
    V = RU_VOWELS
    p = f"^[^{V}]*[{V}]"
    return (
        f"CASE WHEN regexp_matches({x}, '{p}') "
        f"THEN length(regexp_extract({x}, '{p}')) ELSE {_BIG} END"
    )


def _ru_try_sql(x: str, g1: list[str], g2: list[str]) -> str:
    """CASE expression applying the RV-limited among over g1∪g2 (see
    _ru_try); yields the stripped word or {x} unchanged."""
    g2set = set(g2)
    cases = []
    for suf in sorted(set(g1) | g2set, key=lambda s: (-len(s), s)):
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in g2set:
            act = st
        else:
            act = (
                f"CASE WHEN {pos} >= rv + 1 "
                f"AND {_prev_sql(x, n)} IN ('а', 'я') THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ru_suffix_sql(x: str, sufs: list[str]) -> str:
    """Plain RV-limited delete-among (reflexive / noun / step amongs)."""
    cases = []
    for suf in sorted(set(sufs), key=lambda s: (-len(s), s)):
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN {_strip(x, n)}"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ru_adjectival_sql(x: str) -> str:
    """Adjective among; on a hit, apply the participle among to the rest."""
    cases = []
    for suf in _RU_ADJ:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        part = _ru_try_sql(st, _RU_PART_1, _RU_PART_2)
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({part})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def russian_sql_ctes(src: str, out: str, p: str = "ru_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out`` with the
    Russian flow. No recursive scan (prelude is a plain ё→е replace);
    step-1 alternatives ride as marker columns so each among fires at most
    once, mirroring russian_py exactly."""
    _, r2 = _r1r2_sql("term", RU_VOWELS)
    pg = _ru_try_sql("term", _RU_PGERUND_1, _RU_PGERUND_2)
    refl = _ru_suffix_sql("term", ["ся", "сь"])
    adjectival = _ru_adjectival_sql("term")
    verb = _ru_try_sql("term", _RU_VERB_1, _RU_VERB_2)
    noun = _ru_suffix_sql("term", _RU_NOUN)
    step2 = (
        "CASE WHEN ends_with(term, 'и') AND length(term) - 1 >= rv "
        f"THEN {_strip('term', 1)} ELSE term END"
    )
    step3 = (
        "CASE WHEN ends_with(term, 'ость') AND length(term) - 4 >= r2 "
        f"THEN {_strip('term', 4)} "
        "WHEN ends_with(term, 'ост') AND length(term) - 3 >= r2 "
        f"THEN {_strip('term', 3)} ELSE term END"
    )
    eish = (
        "CASE WHEN ends_with(term, 'ейше') AND length(term) - 4 >= rv "
        f"THEN {_strip('term', 4)} "
        "WHEN ends_with(term, 'ейш') AND length(term) - 3 >= rv "
        f"THEN {_strip('term', 3)} ELSE term END"
    )
    step4 = (
        "CASE WHEN ends_with(term, 'нн') AND length(term) - 2 >= rv "
        f"THEN {_strip('term', 1)} "
        "WHEN NOT e4 AND ends_with(term, 'ь') AND length(term) - 1 >= rv "
        f"THEN {_strip('term', 1)} ELSE term END"
    )
    return f"""
{p}pre AS MATERIALIZED (SELECT doc_id, replace(term, 'ё', 'е') AS term FROM {src}),
{p}sr AS MATERIALIZED (SELECT doc_id, term, {_ru_rv_sql("term")} AS rv, {r2} AS r2 FROM {p}pre),
{p}pg AS MATERIALIZED (SELECT doc_id, rv, r2, term AS t0, {pg} AS term FROM {p}sr),
{p}pgb AS MATERIALIZED (SELECT doc_id, rv, r2, term, (term <> t0) AS g FROM {p}pg),
{p}rf AS MATERIALIZED (SELECT doc_id, rv, r2, g,
  CASE WHEN NOT g THEN {refl} ELSE term END AS term FROM {p}pgb),
{p}aj AS MATERIALIZED (SELECT doc_id, rv, r2, g, term AS t0,
  CASE WHEN NOT g THEN {adjectival} ELSE term END AS term FROM {p}rf),
{p}ajb AS MATERIALIZED (SELECT doc_id, rv, r2, term, g, (NOT g AND term <> t0) AS a FROM {p}aj),
{p}vb AS MATERIALIZED (SELECT doc_id, rv, r2, g, a, term AS t0,
  CASE WHEN NOT g AND NOT a THEN {verb} ELSE term END AS term FROM {p}ajb),
{p}vbb AS MATERIALIZED (SELECT doc_id, rv, r2, term, g, a, (NOT g AND NOT a AND term <> t0) AS v FROM {p}vb),
{p}nn AS MATERIALIZED (SELECT doc_id, rv, r2,
  CASE WHEN NOT g AND NOT a AND NOT v THEN {noun} ELSE term END AS term FROM {p}vbb),
{p}s2 AS MATERIALIZED (SELECT doc_id, rv, r2, {step2} AS term FROM {p}nn),
{p}s3 AS MATERIALIZED (SELECT doc_id, rv, r2, {step3} AS term FROM {p}s2),
{p}e4 AS MATERIALIZED (SELECT doc_id, rv, term AS t0, {eish} AS term FROM {p}s3),
{p}e4b AS MATERIALIZED (SELECT doc_id, rv, term, (term <> t0) AS e4 FROM {p}e4),
{out} AS MATERIALIZED (SELECT doc_id, {step4} AS term FROM {p}e4b)
"""


# ------------------------------------------------- swedish/norwegian/danish
# Published Snowball Scandinavian stemmers (snowballstem.org; the reference
# binds Lucene's Swedish/Norwegian/Danish analyzers,
# config/mapping/Language.scala:93,84,66). All three share the shape:
# R1 (standard, region before it >= 3 letters), one big delete-if-in-R1
# suffix among with a valid-s-ending rule for 's', a consonant-cluster
# t/letter removal step, and a small step-3 among.

SV_VOWELS = "aeiouyäåö"
SV_S_END = "bcdfghjklmnoprtvy"
# the official suffix list, longest-first (among longest-match)
_SV_STEP1 = sorted(
    ["a", "arna", "erna", "heterna", "orna", "ad", "e", "ade", "ande",
     "arne", "are", "aste", "en", "anden", "aren", "heten", "ern", "ar",
     "er", "heter", "or", "as", "arnas", "ernas", "ornas", "es", "ades",
     "andes", "ens", "arens", "hetens", "erns", "at", "andet", "het",
     "ast"],
    key=lambda s: (-len(s), s),
)
_SV_STEP3 = [("fullt", "full"), ("löst", "lös"), ("lig", ""), ("els", ""), ("ig", "")]


def swedish_py(word: str) -> str:
    w = word
    r1, _ = _r1r2_py(w, SV_VOWELS, r1_min=3)
    # step 1: among matched WITHIN R1 (setlimit tomark p1 — the longest
    # suffix that fits entirely inside R1 wins; a longer surface suffix
    # poking out of R1 does not shadow it); s needs a valid s-ending
    for suf in sorted(set(_SV_STEP1) | {"s"}, key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        if suf == "s":
            if pos >= 1 and w[pos - 1] in SV_S_END:
                w = w[:pos]
        else:
            w = w[:pos]
        break
    # step 2: dd gd nn dt gt kt tt in R1 → drop last letter
    if any(w.endswith(s) for s in ("dd", "gd", "nn", "dt", "gt", "kt", "tt")):
        if len(w) - 2 >= r1:
            w = w[:-1]
    # step 3
    for suf, rep in sorted(_SV_STEP3, key=lambda t: -len(t[0])):
        if w.endswith(suf) and len(w) - len(suf) >= r1:
            w = w[: len(w) - len(suf)] + rep
            break
    return w


NO_VOWELS = "aeiouyæåø"
NO_S_END = "bcdfghjlmnoprtvyz"
_NO_STEP1_DEL = sorted(
    ["a", "e", "ede", "ande", "ende", "ane", "ene", "hetene", "en",
     "heten", "ar", "er", "heter", "as", "es", "edes", "endes", "enes",
     "hetenes", "ens", "hetens", "ers", "ets", "et", "het", "ast"],
    key=lambda s: (-len(s), s),
)
_NO_STEP3 = sorted(
    ["hetslov", "slov", "elov", "lov", "eleg", "elig", "leg", "lig",
     "eig", "els", "ig"],
    key=lambda s: (-len(s), s),
)


def norwegian_py(word: str) -> str:
    w = word
    r1, _ = _r1r2_py(w, NO_VOWELS, r1_min=3)
    # step 1: among matched WITHIN R1 (longest suffix inside R1 wins)
    for suf in sorted(set(_NO_STEP1_DEL) | {"s", "erte", "ert"}, key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        if suf == "s":
            # valid s-ending: one of NO_S_END, or k NOT preceded by a vowel
            prev = w[pos - 1] if pos >= 1 else ""
            prev2 = w[pos - 2] if pos >= 2 else ""
            if prev in NO_S_END or (prev == "k" and (not prev2 or prev2 not in NO_VOWELS)):
                w = w[:pos]
        elif suf in ("erte", "ert"):
            w = w[:pos] + "er"
        else:
            w = w[:pos]
        break
    # step 2: dt or vt in R1 → drop the t
    if (w.endswith("dt") or w.endswith("vt")) and len(w) - 2 >= r1:
        w = w[:-1]
    # step 3: delete-among
    for suf in _NO_STEP3:
        if w.endswith(suf) and len(w) - len(suf) >= r1:
            w = w[: len(w) - len(suf)]
            break
    return w


DA_VOWELS = "aeiouyæåø"
DA_S_END = "abcdfghjklmnoprtvyzå"
_DA_STEP1_DEL = sorted(
    ["hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
     "erne", "ere", "en", "heden", "eren", "er", "heder", "erer", "heds",
     "es", "endes", "erendes", "enes", "ernes", "eres", "ens", "hedens",
     "erens", "ers", "ets", "erets", "et", "eret"],
    key=lambda s: (-len(s), s),
)


def danish_py(word: str) -> str:
    w = word
    r1, _ = _r1r2_py(w, DA_VOWELS, r1_min=3)
    # step 1: among matched WITHIN R1 (longest suffix inside R1 wins)
    for suf in sorted(set(_DA_STEP1_DEL) | {"s"}, key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        if suf == "s":
            if pos >= 1 and w[pos - 1] in DA_S_END:
                w = w[:pos]
        else:
            w = w[:pos]
        break
    # step 2: gd dt gt kt in R1 → drop last letter
    if any(w.endswith(s) for s in ("gd", "dt", "gt", "kt")):
        if len(w) - 2 >= r1:
            w = w[:-1]
    # step 3: igst → drop st; then among {ig lig elig els → delete + repeat
    # step 2; løst → løs}
    if w.endswith("igst"):
        w = w[:-2]
    for suf in ("elig", "løst", "lig", "els", "ig"):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):  # match within R1, fallback
            continue
        if suf == "løst":
            w = w[:-1]
        else:
            w = w[:pos]
            if any(w.endswith(s) for s in ("gd", "dt", "gt", "kt")):
                if len(w) - 2 >= r1:
                    w = w[:-1]
        break
    # step 4 (undouble): identical double consonant at the end, the last
    # letter in R1 → drop it
    if (
        len(w) >= 2
        and w[-1] == w[-2]
        and w[-1] not in DA_VOWELS
        and len(w) - 1 >= r1
    ):
        w = w[:-1]
    return w


# ---- scandinavian SQL forms (shared generator: the three stemmers differ
# only in vowel set, suffix tables, s-ending rule and step-3 shape)


def _scand_among_sql(x: str, sufs: list[str], s_cond: str | None) -> str:
    """Longest-match among over ``sufs`` ∪ {'s'}: delete if in R1; 's'
    additionally needs ``s_cond`` (a SQL predicate over {x})."""
    entries = sorted(set(sufs) | {"s"}, key=lambda s: (-len(s), s))
    cases = []
    for suf in entries:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf == "s":
            act = f"CASE WHEN {pos} >= 1 AND {s_cond} THEN {st} ELSE {x} END"
        else:
            act = st
        # R1 in the WHEN: the among matches WITHIN R1, falling through to
        # shorter suffixes (setlimit tomark p1 semantics)
        cases.append(
            f"WHEN ends_with({x}, '{suf}') AND {pos} >= r1 THEN ({act})"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _scand_cluster_sql(x: str, clusters: tuple) -> str:
    conds = " OR ".join(f"ends_with({x}, '{c}')" for c in clusters)
    return (
        f"CASE WHEN ({conds}) AND length({x}) - 2 >= r1 "
        f"THEN {_strip(x, 1)} ELSE {x} END"
    )


def swedish_sql_ctes(src: str, out: str, p: str = "sv_") -> str:
    r1, _ = _r1r2_sql("term", SV_VOWELS, r1_min=3)
    s_cond = f"contains('{SV_S_END}', {_prev_sql('term', 1)})"
    s1 = _scand_among_sql("term", _SV_STEP1, s_cond)
    s2 = _scand_cluster_sql("term", ("dd", "gd", "nn", "dt", "gt", "kt", "tt"))
    cases3 = []
    for suf, rep in sorted(_SV_STEP3, key=lambda t: -len(t[0])):
        n = len(suf)
        pos = f"(length(term) - {n})"
        act = f"{_strip('term', n)}" + (f" || '{rep}'" if rep else "")
        cases3.append(
            f"WHEN ends_with(term, '{suf}') AND {pos} >= r1 THEN ({act})"
        )
    s3 = "CASE " + " ".join(cases3) + " ELSE term END"
    return f"""
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1 FROM {src}),
{p}s1 AS MATERIALIZED (SELECT doc_id, r1, {s1} AS term FROM {p}sr),
{p}s2 AS MATERIALIZED (SELECT doc_id, r1, {s2} AS term FROM {p}s1),
{out} AS MATERIALIZED (SELECT doc_id, {s3} AS term FROM {p}s2)
"""


def norwegian_sql_ctes(src: str, out: str, p: str = "no_") -> str:
    r1, _ = _r1r2_sql("term", NO_VOWELS, r1_min=3)
    prev = _prev_sql("term", 1)
    prev2 = "substr(term, length(term) - 2, 1)"
    s_cond = (
        f"(contains('{NO_S_END}', {prev}) OR ({prev} = 'k' "
        f"AND NOT contains('{NO_VOWELS}', {prev2})))"
    )
    # one among over delete-list ∪ {s, erte, ert}
    entries = sorted(set(_NO_STEP1_DEL) | {"s", "erte", "ert"}, key=lambda s: (-len(s), s))
    cases = []
    for suf in entries:
        n = len(suf)
        pos = f"(length(term) - {n})"
        st = _strip("term", n)
        if suf == "s":
            act = f"CASE WHEN {pos} >= 1 AND {s_cond} THEN {st} ELSE term END"
        elif suf in ("erte", "ert"):
            act = f"{st} || 'er'"
        else:
            act = st
        cases.append(
            f"WHEN ends_with(term, '{suf}') AND {pos} >= r1 THEN ({act})"
        )
    s1 = "CASE " + " ".join(cases) + " ELSE term END"
    s2 = (
        "CASE WHEN (ends_with(term, 'dt') OR ends_with(term, 'vt')) "
        f"AND length(term) - 2 >= r1 THEN {_strip('term', 1)} ELSE term END"
    )
    cases3 = []
    for suf in _NO_STEP3:
        n = len(suf)
        pos = f"(length(term) - {n})"
        cases3.append(
            f"WHEN ends_with(term, '{suf}') AND {pos} >= r1 "
            f"THEN {_strip('term', n)}"
        )
    s3 = "CASE " + " ".join(cases3) + " ELSE term END"
    return f"""
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1 FROM {src}),
{p}s1 AS MATERIALIZED (SELECT doc_id, r1, {s1} AS term FROM {p}sr),
{p}s2 AS MATERIALIZED (SELECT doc_id, r1, {s2} AS term FROM {p}s1),
{out} AS MATERIALIZED (SELECT doc_id, {s3} AS term FROM {p}s2)
"""


def danish_sql_ctes(src: str, out: str, p: str = "da_") -> str:
    r1, _ = _r1r2_sql("term", DA_VOWELS, r1_min=3)
    s_cond = f"contains('{DA_S_END}', {_prev_sql('term', 1)})"
    s1 = _scand_among_sql("term", _DA_STEP1_DEL, s_cond)
    s2 = _scand_cluster_sql("term", ("gd", "dt", "gt", "kt"))
    igst = (
        f"CASE WHEN ends_with(term, 'igst') THEN {_strip('term', 2)} ELSE term END"
    )
    cases3 = []
    for suf in ("elig", "løst", "lig", "els", "ig"):
        n = len(suf)
        pos = f"(length(term) - {n})"
        st = _strip("term", n)
        if suf == "løst":
            act = _strip("term", 1)
        else:
            # delete, then repeat step 2 on the remainder
            act = f"({_scand_cluster_sql(st, ('gd', 'dt', 'gt', 'kt'))})"
        cases3.append(
            f"WHEN ends_with(term, '{suf}') AND {pos} >= r1 THEN ({act})"
        )
    s3 = "CASE " + " ".join(cases3) + " ELSE term END"
    undouble = (
        "CASE WHEN length(term) >= 2 "
        "AND substr(term, length(term), 1) = substr(term, length(term) - 1, 1) "
        f"AND NOT contains('{DA_VOWELS}', substr(term, length(term), 1)) "
        f"AND length(term) - 1 >= r1 THEN {_strip('term', 1)} ELSE term END"
    )
    return f"""
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1 FROM {src}),
{p}s1 AS MATERIALIZED (SELECT doc_id, r1, {s1} AS term FROM {p}sr),
{p}s2 AS MATERIALIZED (SELECT doc_id, r1, {s2} AS term FROM {p}s1),
{p}ig AS MATERIALIZED (SELECT doc_id, r1, {igst} AS term FROM {p}s2),
{p}s3 AS MATERIALIZED (SELECT doc_id, r1, {s3} AS term FROM {p}ig),
{out} AS MATERIALIZED (SELECT doc_id, {undouble} AS term FROM {p}s3)
"""


# ----------------------------------------------------------------- romanian
# Published Snowball Romanian algorithm (snowballstem.org/algorithms/
# romanian/stemmer.html; the reference binds Lucene's RomanianAnalyzer,
# config/mapping/Language.scala:89). Vowels a ă â e i î o u; the prelude
# first normalizes the legacy cedilla forms ş/ţ (U+015F/U+0163) to the
# comma-below forms ș/ț (U+0219/U+021B) the algorithm is defined over, then
# marks i/u between vowels as consonants I/U with the standard cursor scan.
# RV is the Spanish-style exceptional region; R1/R2 standard. Flow:
# step 0 (plural/article removal, R1) → step 1 (combining suffixes, R1,
# REPEATED until no change) → step 2 (standard suffixes, R2, sets the
# removal flag — note the bare 'ist' → 'ist' identity replacement still
# sets it) → verb suffixes (only if steps 1/2 removed nothing; amongs match
# WITHIN RV, group 1 needs a consonant-or-u immediately before, itself
# inside RV) → final vowel (longest of a/e/i/ie/ă, start-in-RV condition)
# → postlude I/U → i/u.

RO_VOWELS = "aăâeiîou"

_RO_STEP0 = sorted(
    [
        ("ul", ""), ("ului", ""),
        ("aua", "a"),
        ("ea", "e"), ("ele", "e"), ("elor", "e"),
        ("ii", "i"), ("iua", "i"), ("iei", "i"), ("iile", "i"),
        ("iilor", "i"), ("ilor", "i"),
        ("ile", "i"),  # guarded: not preceded by 'ab'
        ("atei", "at"),
        ("ație", "ați"), ("ația", "ați"),
    ],
    key=lambda t: -len(t[0]),
)

_RO_STEP1 = sorted(
    [(s, r) for r, ss in {
        "abil": ["abilitate", "abilitati", "abilităi", "abilități"],
        "ibil": ["ibilitate"],
        "iv": ["ivitate", "ivitati", "ivităi", "ivități"],
        "ic": ["icitate", "icitati", "icităi", "icități", "icator",
               "icatori", "iciv", "iciva", "icive", "icivi", "icivă",
               "ical", "icala", "icale", "icali", "icală"],
        "at": ["ativ", "ativa", "ative", "ativi", "ativă", "ațiune",
               "atoare", "ator", "atori", "ătoare", "ător", "ători"],
        "it": ["itiv", "itiva", "itive", "itivi", "itivă", "ițiune",
               "itoare", "itor", "itori"],
    }.items() for s in ss],
    key=lambda t: -len(t[0]),
)

_RO_STEP2_DEL = [
    "at", "ata", "ată", "ati", "ate",
    "ut", "uta", "ută", "uti", "ute",
    "it", "ita", "ită", "iti", "ite",
    "ic", "ica", "ice", "ici", "ică",
    "abil", "abila", "abile", "abili", "abilă",
    "ibil", "ibila", "ibile", "ibili", "ibilă",
    "oasa", "oasă", "oase", "os", "osi", "oși",
    "ant", "anta", "ante", "anti", "antă",
    "ator", "atori",
    "itate", "itati", "ităi", "ități",
    "iv", "iva", "ive", "ivi", "ivă",
]
_RO_STEP2_IST = ["ism", "isme", "ist", "ista", "iste", "isti", "istă", "iști"]
_RO_STEP2_IUNE = ["iune", "iuni"]
_RO_STEP2_ALL = sorted(
    _RO_STEP2_DEL + _RO_STEP2_IST + _RO_STEP2_IUNE, key=lambda s: (-len(s), s)
)
_RO_IST_SET = set(_RO_STEP2_IST)

_RO_VERB_1 = [
    "are", "ere", "ire", "âre",
    "ind", "ând", "indu", "ându",
    "eze", "ează", "esc", "ești", "ește", "ăsc", "ăști", "ăște",
    "ească", "ez", "ezi",
    "am", "ai", "au",
    "eam", "eai", "ea", "eați", "eau",
    "iam", "iai", "ia", "iați", "iau",
    "ui", "ași", "arăm", "arăți", "ară",
    "uși", "urăm", "urăți", "ură",
    "iși", "irăm", "irăți", "iră",
    "âi", "âși", "ârăm", "ârăți", "âră",
    "asem", "aseși", "ase", "aserăm", "aserăți", "aseră",
    "isem", "iseși", "ise", "iserăm", "iserăți", "iseră",
    "âsem", "âseși", "âse", "âserăm", "âserăți", "âseră",
    "usem", "useși", "use", "userăm", "userăți", "useră",
]
_RO_VERB_2 = [
    "ăm", "ați", "em", "eți", "im", "iți", "âm", "âți",
    "seși", "serăm", "serăți", "seră", "sei", "se",
    "sesem", "seseși", "sese", "seserăm", "seserăți", "seseră",
]
_RO_VERB_ALL = sorted(set(_RO_VERB_1) | set(_RO_VERB_2), key=lambda s: (-len(s), s))
_RO_VERB_2_SET = set(_RO_VERB_2)


def _ro_mark(prev: str, c: str, nxt: str) -> str:
    if c in "iu" and prev and prev in RO_VOWELS and nxt and nxt in RO_VOWELS:
        return "I" if c == "i" else "U"
    return c


def _ro_prelude_py(w: str) -> str:
    w = w.replace("ş", "ș").replace("ţ", "ț")
    return _scan_py(w, _ro_mark)


def romanian_py(word: str) -> str:
    w = _ro_prelude_py(word)
    r1, r2 = _r1r2_py(w, RO_VOWELS)
    rv = _rv_std_py(w, RO_VOWELS)

    # step 0: longest among by surface, then R1 condition; the guarded
    # 'ile' (not after 'ab' ⟺ word doesn't end 'abile') fails whole-step
    for suf, repl in _RO_STEP0:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if pos >= r1 and not (suf == "ile" and w.endswith("abile")):
                w = w[:pos] + repl
            break

    # step 1: repeat while a replacement fires (every replacement strictly
    # shortens, so "changed" ⟺ "fired")
    s1 = False
    while True:
        hit = False
        for suf, repl in _RO_STEP1:
            if w.endswith(suf):
                pos = len(w) - len(suf)
                if pos >= r1:
                    w = w[:pos] + repl
                    hit = s1 = True
                break
        if not hit:
            break

    # step 2: longest among over delete ∪ iune ∪ ist groups, R2 condition.
    # Success sets the flag even when the string is unchanged ('ist'→'ist').
    s2 = False
    for suf in _RO_STEP2_ALL:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if pos >= r2:
                if suf in ("iune", "iuni"):
                    if pos >= 1 and w[pos - 1] == "ț":
                        w = w[: pos - 1] + "t"
                        s2 = True
                elif suf in _RO_IST_SET:
                    w = w[:pos] + "ist"
                    s2 = True
                else:
                    w = w[:pos]
                    s2 = True
            break

    # verb suffixes: only if steps 1/2 removed nothing; within-RV among
    # (longest suffix FITTING INSIDE RV wins — longer surface suffixes that
    # poke out of RV fall through); group-1 needs consonant-or-u before,
    # itself inside RV; a failed group-1 test means no removal
    if not (s1 or s2):
        for suf in _RO_VERB_ALL:
            pos = len(w) - len(suf)
            if not (w.endswith(suf) and pos >= rv):
                continue
            if suf in _RO_VERB_2_SET:
                w = w[:pos]
            elif pos >= rv + 1 and (w[pos - 1] not in RO_VOWELS or w[pos - 1] == "u"):
                w = w[:pos]
            break

    # final vowel: longest of ie/a/e/i/ă by surface, start-in-RV condition
    for suf in ("ie", "a", "e", "i", "ă"):
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if pos >= rv:
                w = w[:pos]
            break

    return w.replace("I", "i").replace("U", "u")


# ---- romanian SQL form


def _ro_mark_sql(prev: str, c: str, nxt: str) -> str:
    pv = f"({prev} <> '' AND contains('{RO_VOWELS}', {prev}))"
    nv = f"({nxt} <> '' AND contains('{RO_VOWELS}', {nxt}))"
    return (
        f"CASE WHEN {c} = 'i' AND {pv} AND {nv} THEN 'I' "
        f"WHEN {c} = 'u' AND {pv} AND {nv} THEN 'U' "
        f"ELSE {c} END"
    )


def _ro_step0_sql(x: str) -> str:
    cases = []
    for suf, repl in _RO_STEP0:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        act = f"{_strip(x, n)} || '{repl}'" if repl else _strip(x, n)
        cond = f"{pos} >= r1"
        if suf == "ile":
            cond += f" AND NOT ends_with({x}, 'abile')"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {cond} THEN {act} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ro_step1_sql(x: str) -> str:
    cases = []
    for suf, repl in _RO_STEP1:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {pos} >= r1 THEN {_strip(x, n)} || '{repl}' ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ro_step2_sql(x: str) -> tuple[str, str]:
    """(new-term CASE, success-flag CASE) — the flag is NOT string-change
    ('ist' → 'ist' succeeds unchanged and must still block the verb step)."""
    val, flg = [], []
    for suf in _RO_STEP2_ALL:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in ("iune", "iuni"):
            cond = f"{pos} >= r2 AND {pos} >= 1 AND {_prev_sql(x, n)} = 'ț'"
            act = f"{_strip(x, n + 1)} || 't'"
        elif suf in _RO_IST_SET:
            cond = f"{pos} >= r2"
            act = f"{st} || 'ist'"
        else:
            cond = f"{pos} >= r2"
            act = st
        val.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {cond} THEN {act} ELSE {x} END)"
        )
        flg.append(f"WHEN ends_with({x}, '{suf}') THEN ({cond})")
    return (
        "CASE " + " ".join(val) + f" ELSE {x} END",
        "CASE " + " ".join(flg) + " ELSE FALSE END",
    )


def _ro_verb_sql(x: str) -> str:
    cases = []
    for suf in _RO_VERB_ALL:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if suf in _RO_VERB_2_SET:
            act = st
        else:
            prevc = _prev_sql(x, n)
            act = (
                f"CASE WHEN {pos} >= rv + 1 AND "
                f"(NOT contains('{RO_VOWELS}', {prevc}) OR {prevc} = 'u') "
                f"THEN {st} ELSE {x} END"
            )
        cases.append(f"WHEN ends_with({x}, '{suf}') AND {pos} >= rv THEN ({act})")
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ro_vowel_sql(x: str) -> str:
    cases = []
    for suf in ("ie", "a", "e", "i", "ă"):
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {pos} >= rv THEN {_strip(x, n)} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def romanian_sql_ctes(src: str, out: str, p: str = "ro_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` → ``out`` with the
    Romanian flow; caller's WITH list must be WITH RECURSIVE (prelude scan).
    Step 1 is unrolled 3×, which is exact: a second replacement can only
    fire when the first one produced 'iv' (only ativ/itiv/iciv end in a
    replacement string), and those replace to at/it/ic which no step-1
    suffix ends with — so ≥3 consecutive replacements are impossible and
    the third application is a provably-idempotent guard."""
    base = "replace(replace(term, 'ş', 'ș'), 'ţ', 'ț')"
    scan = _scan_sql(src, f"{p}pre", p, _ro_mark_sql, base_term=base)
    r1, r2 = _r1r2_sql("term", RO_VOWELS)
    rv = _rv_std_sql("term", RO_VOWELS)
    s0 = _ro_step0_sql("term")
    s1 = _ro_step1_sql("term")
    s2v, s2f = _ro_step2_sql("term")
    vb = _ro_verb_sql("term")
    s4 = _ro_vowel_sql("term")
    return f"""
{scan.strip()},
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1, {r2} AS r2, {rv} AS rv FROM {p}pre),
{p}s0 AS MATERIALIZED (SELECT doc_id, r1, r2, rv, {s0} AS term FROM {p}sr),
{p}s1a AS MATERIALIZED (SELECT doc_id, r1, r2, rv, term AS t0, {s1} AS term FROM {p}s0),
{p}s1b AS MATERIALIZED (SELECT doc_id, r1, r2, rv, t0, {s1} AS term FROM {p}s1a),
{p}s1c AS MATERIALIZED (SELECT doc_id, r1, r2, rv, (term <> t0) AS f1, {s1} AS term FROM {p}s1b),
{p}s2 AS MATERIALIZED (SELECT doc_id, r1, r2, rv, f1, {s2f} AS f2, {s2v} AS term FROM {p}s1c),
{p}vb AS MATERIALIZED (SELECT doc_id, rv,
  CASE WHEN NOT f1 AND NOT f2 THEN {vb} ELSE term END AS term FROM {p}s2),
{p}s4 AS MATERIALIZED (SELECT doc_id, {s4} AS term FROM {p}vb),
{out} AS MATERIALIZED (SELECT doc_id, translate(term, 'IU', 'iu') AS term FROM {p}s4)
"""


# ------------------------------------------------------------------ catalan
# Published Snowball Catalan stemmer (snowballstem.org; reference
# config/mapping/Language.scala:63 -> Lucene CatalanAnalyzer, whose stemming
# layer is this same Snowball algorithm). Flow: mark R1/R2 ->
# attached_pronoun (R1) -> (standard_suffix OR verb_suffix) ->
# residual_suffix -> clean (deaccent + central-dot -> '.'). No prelude scan,
# no RV. Verified EXACTLY against the published algorithm's compiled form
# (the Snowball build inside PostgreSQL 15's dict_snowball.so, driven over
# ctypes): 0 mismatches on a 37,781-word fuzz covering every among suffix
# under 22 prefixes, pronoun+verb chains, and 30k random strings over the
# Catalan alphabet.

CA_VOWELS = "aeiou\u00e0\u00e1\u00e8\u00e9\u00ed\u00ef\u00f2\u00f3\u00fa\u00fc"  # probed: i-grave/u-grave are NOT vowels

_CA_RES = [
    ('iqu', 2), ('itz', 1), ('ïn', 1), ('ir', 1), ('is', 1), ('os', 1),
    ('ïs', 1), ('it', 1), ('eu', 1), ('iu', 1), ('a', 1), ('e', 1), ('i', 1),
    ('o', 1), ('s', 1), ('à', 1), ('á', 1), ('é', 1), ('ì', 1), ('í', 1),
    ('ï', 1), ('ó', 1),
]

_CA_VERB = [
    ('iéramos', 1), ('aríamos', 1), ('eríamos', 1), ('iríamos', 1),
    ('iésemos', 1), ('eresseu', 1), ('esquen', 1), ('isquen', 1),
    ('ïsquen', 1), ('esquin', 1), ('adores', 1), ('esques', 1),
    ('ïsques', 1), ('ierais', 1), ('aríais', 1), ('eríais', 1),
    ('iríais', 1), ('ieseis', 1), ('asteis', 1), ('isteis', 1),
    ('esquis', 1), ('ábamos', 1), ('áramos', 1), ('aremos', 1),
    ('eremos', 1), ('iremos', 1), ('ásemos', 1), ('adora', 1), ('esqui', 1),
    ('àssem', 1), ('éssem', 1), ('iguem', 1), ('ïguem', 1), ('irìem', 1),
    ('aríem', 1), ('iríem', 1), ('assim', 1), ('essim', 1), ('issim', 1),
    ('àssim', 1), ('èssim', 1), ('éssim', 1), ('íssim', 1), ('arian', 1),
    ('ieran', 1), ('arían', 1), ('erían', 1), ('irían', 1), ('arien', 1),
    ('irien', 1), ('iesen', 1), ('assen', 1), ('essen', 1), ('issen', 1),
    ('éssen', 1), ('ïssen', 1), ('eixen', 1), ('assin', 1), ('essin', 1),
    ('issin', 1), ('ïssin', 1), ('eixin', 1), ('ieron', 1), ('iendo', 1),
    ('eixer', 1), ('ieras', 1), ('arías', 1), ('erías', 1), ('irías', 1),
    ('atges', 1), ('aries', 1), ('iries', 1), ('ieses', 1), ('asses', 1),
    ('esses', 1), ('isses', 1), ('ïsses', 1), ('eixes', 1), ('abais', 1),
    ('arais', 1), ('aseis', 1), ('assis', 1), ('essis', 1), ('issis', 1),
    ('ïssis', 1), ('eixis', 1), ('itzis', 1), ('aréis', 1), ('eréis', 1),
    ('iréis', 1), ('íamos', 1), ('adors', 1), ('erass', 1), ('asseu', 1),
    ('esseu', 1), ('àsseu', 1), ('ésseu', 1), ('igueu', 1), ('ïgueu', 1),
    ('itzeu', 1), ('irìeu', 1), ('aríeu', 1), ('iríeu', 1), ('assiu', 1),
    ('issiu', 1), ('àssiu', 1), ('èssiu', 1), ('éssiu', 1), ('íssiu', 1),
    ('esca', 1), ('isca', 1), ('ïsca', 1), ('aria', 1), ('iria', 1),
    ('iera', 1), ('itza', 1), ('aría', 1), ('ería', 1), ('iría', 1),
    ('iese', 1), ('aste', 1), ('iste', 1), ('eixi', 1), ('itzi', 1),
    ('arem', 1), ('irem', 1), ('àrem', 1), ('írem', 1), ('avem', 1),
    ('àvem', 1), ('ávem', 1), ('aban', 1), ('aran', 1), ('iran', 1),
    ('aren', 1), ('eren', 1), ('iren', 1), ('àren', 1), ('ïren', 1),
    ('asen', 1), ('aven', 1), ('ixen', 1), ('ïxen', 1), ('inin', 1),
    ('isin', 1), ('aron', 1), ('arán', 1), ('erán', 1), ('irán', 1),
    ('ando', 2), ('eixo', 1), ('itzo', 1), ('tzar', 1), ('ador', 1),
    ('abas', 1), ('adas', 1), ('idas', 1), ('aras', 1), ('ades', 1),
    ('ides', 1), ('udes', 1), ('ïdes', 1), ('ares', 1), ('ires', 1),
    ('ïres', 1), ('ases', 1), ('ques', 1), ('aves', 1), ('ixes', 1),
    ('ïxes', 1), ('íais', 1), ('inis', 1), ('isis', 1), ('ados', 1),
    ('idos', 1), ('amos', 1), ('imos', 1), ('ents', 1), ('aràs', 1),
    ('iràs', 1), ('arás', 1), ('erás', 1), ('irás', 1), ('arés', 1),
    ('erau', 1), ('ineu', 1), ('areu', 1), ('ireu', 1), ('àreu', 1),
    ('íreu', 1), ('àveu', 1), ('áveu', 1), ('itzà', 1), ('aba', 1),
    ('ada', 1), ('ida', 1), ('uda', 1), ('ïda', 1), ('ara', 1), ('ira', 1),
    ('ïra', 1), ('ava', 1), ('ixa', 1), ('isc', 1), ('ïsc', 1), ('dre', 1),
    ('ase', 1), ('ini', 1), ('íem', 1), ('ían', 1), ('ien', 1), ('ïen', 1),
    ('sin', 1), ('iïn', 1), ('ado', 1), ('ido', 1), ('ixo', 1), ('ïxo', 1),
    ('ías', 1), ('ids', 1), ('ies', 1), ('ïes', 1), ('sis', 1), ('áis', 1),
    ('ams', 1), ('ass', 1), ('ess', 1), ('ats', 1), ('its', 1), ('iïs', 1),
    ('ant', 1), ('ent', 1), ('int', 1), ('ieu', 1), ('ìeu', 1), ('íeu', 1),
    ('eix', 1), ('itz', 1), ('arà', 1), ('irà', 1), ('ará', 1), ('erá', 1),
    ('irá', 1), ('irè', 1), ('aré', 1), ('eré', 1), ('iré', 1), ('ia', 1),
    ('ía', 1), ('ïa', 1), ('ad', 1), ('ed', 1), ('id', 1), ('ie', 1),
    ('re', 1), ('ii', 1), ('am', 1), ('em', 1), ('ïm', 1), ('an', 1),
    ('en', 1), ('in', 1), ('io', 1), ('ar', 1), ('er', 1), ('ir', 1),
    ('as', 1), ('es', 1), ('às', 1), ('és', 1), ('ís', 1), ('at', 1),
    ('it', 1), ('ut', 1), ('ït', 1), ('au', 1), ('ïu', 1), ('ix', 1),
    ('ïx', 1), ('ià', 1), ('iï', 1), ('ió', 1), ('í', 1),
]

_CA_STD = [
    ('quíssimes', 5), ('allengües', 1), ('ativitats', 1), ('quíssima', 5),
    ('ialismes', 1), ('ialistes', 1), ('ionistes', 1), ('lógiques', 3),
    ('quíssims', 5), ('bilitats', 1), ('ativitat', 1), ('ialista', 1),
    ('ionista', 1), ('ialisme', 1), ('ionisme', 1), ('quíssim', 5),
    ('atòries', 1), ('íssimes', 1), ('ivitats', 1), ('bilitat', 1),
    ('isament', 1), ('lógica', 3), ('atòria', 1), ('íssima', 1),
    ('ivisme', 1), ('ificar', 1), ('lógics', 3), ('ancies', 1),
    ('encies', 1), ('ències', 1), ('logies', 3), ('formes', 1),
    ('idores', 1), ('atives', 1), ('logíes', 3), ('íssims', 1),
    ('acions', 2), ('aments', 1), ('ivitat', 1), ('ancia', 1), ('encia', 1),
    ('ència', 1), ('logia', 3), ('íinia', 1), ('ívola', 1), ('sfera', 1),
    ('adora', 1), ('adura', 1), ('ativa', 1), ('logía', 3), ('ístic', 1),
    ('issem', 1), ('ìssem', 1), ('íssem', 1), ('íssim', 1), ('ìssin', 1),
    ('itzar', 1), ('doras', 1), ('ícies', 1), ('inies', 1), ('ínies', 1),
    ('eries', 1), ('àries', 1), ('ables', 1), ('ibles', 1), ('ismes', 1),
    ('dores', 1), ('dures', 1), ('asses', 1), ('ictes', 1), ('istes', 1),
    ('iques', 4), ('logis', 3), ('toris', 1), ('cions', 1), ('assos', 1),
    ('issos', 1), ('adors', 1), ('idors', 1), ('itats', 1), ('ïtats', 1),
    ('ments', 1), ('trius', 1), ('atius', 1), ('ament', 1), ('isseu', 1),
    ('ìsseu', 1), ('ísseu', 1), ('íssiu', 1), ('enca', 1), ('ícia', 1),
    ('inia', 1), ('eria', 1), ('ària', 1), ('alla', 1), ('ella', 1),
    ('dora', 1), ('assa', 1), ('essa', 1), ('issa', 1), ('ista', 1),
    ('atge', 1), ('able', 1), ('ible', 1), ('isme', 1), ('aire', 1),
    ('icte', 1), ('iste', 1), ('logi', 3), ('tori', 1), ('ívol', 1),
    ('isam', 1), ('amen', 1), ('egar', 1), ('ejar', 1), ('itar', 1),
    ('nces', 1), ('ades', 2), ('bles', 1), ('imes', 1), ('ines', 1),
    ('eres', 1), ('ores', 1), ('eses', 1), ('oses', 1), ('ites', 1),
    ('otes', 1), ('ives', 1), ('icis', 1), ('ícis', 1), ('aris', 1),
    ('ells', 1), ('ions', 1), ('esos', 1), ('osos', 1), ('dors', 1),
    ('ants', 1), ('ents', 1), ('itat', 1), ('ïtat', 1), ('ient', 1),
    ('ment', 1), ('triu', 1), ('atiu', 1), ('ació', 1), ('ica', 4),
    ('ada', 2), ('ima', 1), ('ana', 1), ('ina', 1), ('era', 1), ('ora', 1),
    ('esa', 1), ('osa', 1), ('eta', 1), ('ita', 1), ('ota', 1), ('iva', 1),
    ('nça', 1), ('enc', 1), ('esc', 1), ('ble', 1), ('ici', 1), ('íci', 1),
    ('ari', 1), ('all', 1), ('ell', 1), ('fer', 1), ('dor', 1), ('dur', 1),
    ('ics', 4), ('uds', 1), ('als', 1), ('ims', 1), ('ers', 1), ('ors', 1),
    ('ats', 1), ('ets', 1), ('ots', 1), ('uts', 1), ('ius', 1), ('dís', 1),
    ('ant', 1), ('ent', 1), ('ció', 1), ('ic', 4), ('ud', 1), ('al', 1),
    ('il', 1), ('ar', 1), ('or', 1), ('ls', 1), ('ès', 1), ('és', 1),
    ('ís', 1), ('ós', 1), ('et', 1), ('ot', 1), ('ió', 1), ('ó', 1),
]

_CA_PRON = [
    ('selas', 1), ('selos', 1), ('sela', 1), ('selo', 1), ('-les', 1),
    ('-nos', 1), ('-la', 1), ('-me', 1), ('-te', 1), ("'hi", 1), ('-li', 1),
    ("'ho", 1), ('las', 1), ('les', 1), ("'ls", 1), ('-ls', 1), ("'ns", 1),
    ('-ns', 1), ('ens', 1), ('los', 1), ('nos', 1), ('vos', 1), ('-us', 1),
    ('la', 1), ('le', 1), ('me', 1), ('se', 1), ('hi', 1), ('li', 1),
    ("'l", 1), ("'m", 1), ('-m', 1), ("'n", 1), ('-n', 1), ('ho', 1),
    ('lo', 1), ("'s", 1), ('us', 1), ("'t", 1),
]

for _L in (_CA_RES, _CA_VERB, _CA_STD, _CA_PRON):
    _L.sort(key=lambda t: -len(t[0]))

_CA_CLEAN = str.maketrans(
    "\u00e0\u00e1\u00e8\u00e9\u00ec\u00ed\u00ef\u00f2\u00f3\u00fa\u00fc\u00b7", "aaeeiiioouu."
)


def catalan_py(word: str) -> str:
    w = word
    r1, r2 = _r1r2_py(w, CA_VOWELS)

    # attached_pronoun: longest among by surface, start-in-R1 condition
    for suf, _ in _CA_PRON:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if pos >= r1:
                w = w[:pos]
            break

    # standard_suffix: success = suffix found AND its region test passed
    # (no among backtracking) -- blocks the verb step, Snowball's
    # `(standard_suffix or verb_suffix)` or-chain
    s1 = False
    for suf, res in _CA_STD:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if res == 1 and pos >= r1:
                w, s1 = w[:pos], True
            elif res == 2 and pos >= r2:
                w, s1 = w[:pos], True
            elif res == 3 and pos >= r2:
                w, s1 = w[:pos] + "log", True
            elif res == 4 and pos >= r2:
                w, s1 = w[:pos] + "ic", True
            elif res == 5 and pos >= r1:
                w, s1 = w[:pos] + "c", True
            break

    # verb_suffix: only if standard_suffix failed; group 1 is R1, group 2 R2
    if not s1:
        for suf, res in _CA_VERB:
            if w.endswith(suf):
                pos = len(w) - len(suf)
                if pos >= (r1 if res == 1 else r2):
                    w = w[:pos]
                break

    # residual_suffix: both groups start-in-R1; group 2 ('iqu') -> 'ic'
    for suf, res in _CA_RES:
        if w.endswith(suf):
            pos = len(w) - len(suf)
            if pos >= r1:
                w = w[:pos] + ("ic" if res == 2 else "")
            break

    return w.translate(_CA_CLEAN)


# ---- catalan SQL form


def _ca_q(s: str) -> str:
    return s.replace("'", "''")


def _ca_pron_sql(x: str) -> str:
    cases = []
    for suf, _ in _CA_PRON:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        cases.append(
            f"WHEN ends_with({x}, '{_ca_q(suf)}') THEN "
            f"(CASE WHEN {pos} >= r1 THEN {_strip(x, n)} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ca_std_sql(x: str) -> tuple[str, str]:
    """(new-term CASE, success-flag CASE) -- the flag is condition-based
    like Romanian's: matched suffix whose region test failed fails the
    whole step and unblocks the verb step."""
    val, flg = [], []
    for suf, res in _CA_STD:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        st = _strip(x, n)
        if res == 1:
            cond, act = f"{pos} >= r1", st
        elif res == 2:
            cond, act = f"{pos} >= r2", st
        elif res == 3:
            cond, act = f"{pos} >= r2", f"{st} || 'log'"
        elif res == 4:
            cond, act = f"{pos} >= r2", f"{st} || 'ic'"
        else:
            cond, act = f"{pos} >= r1", f"{st} || 'c'"
        val.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {cond} THEN {act} ELSE {x} END)"
        )
        flg.append(f"WHEN ends_with({x}, '{suf}') THEN ({cond})")
    return (
        "CASE " + " ".join(val) + f" ELSE {x} END",
        "CASE " + " ".join(flg) + " ELSE FALSE END",
    )


def _ca_verb_sql(x: str) -> str:
    cases = []
    for suf, res in _CA_VERB:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        r = "r1" if res == 1 else "r2"
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {pos} >= {r} THEN {_strip(x, n)} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def _ca_res_sql(x: str) -> str:
    cases = []
    for suf, res in _CA_RES:
        n = len(suf)
        pos = f"(length({x}) - {n})"
        act = f"{_strip(x, n)} || 'ic'" if res == 2 else _strip(x, n)
        cases.append(
            f"WHEN ends_with({x}, '{suf}') THEN "
            f"(CASE WHEN {pos} >= r1 THEN {act} ELSE {x} END)"
        )
    return "CASE " + " ".join(cases) + f" ELSE {x} END"


def catalan_sql_ctes(src: str, out: str, p: str = "ca_") -> str:
    """CTE-chain fragment stemming ``src(doc_id, term)`` -> ``out`` with the
    Catalan flow; no recursive prelude (plain WITH works, WITH RECURSIVE is
    harmless)."""
    r1, r2 = _r1r2_sql("term", CA_VOWELS)
    pron = _ca_pron_sql("term")
    stdv, stdf = _ca_std_sql("term")
    vb = _ca_verb_sql("term")
    res = _ca_res_sql("term")
    clean = "translate(term, '\u00e0\u00e1\u00e8\u00e9\u00ec\u00ed\u00ef\u00f2\u00f3\u00fa\u00fc\u00b7', 'aaeeiiioouu.')"
    return f"""
{p}sr AS MATERIALIZED (SELECT doc_id, term, {r1} AS r1, {r2} AS r2 FROM {src}),
{p}pr AS MATERIALIZED (SELECT doc_id, r1, r2, {pron} AS term FROM {p}sr),
{p}st AS MATERIALIZED (SELECT doc_id, r1, r2, {stdf} AS f1, {stdv} AS term FROM {p}pr),
{p}vb AS MATERIALIZED (SELECT doc_id, r1, CASE WHEN NOT f1 THEN {vb} ELSE term END AS term FROM {p}st),
{p}rs AS MATERIALIZED (SELECT doc_id, {res} AS term FROM {p}vb),
{out} AS MATERIALIZED (SELECT doc_id, {clean} AS term FROM {p}rs)
"""


# --------------------------------------------------------------- finnish
# Published Snowball Finnish stemmer (snowballstem.org; reference binds
# Lucene's FinnishAnalyzer, config/mapping/Language.scala:74). Shape: no
# prelude; standard R1/R2 over vowels aeiouyäö; six ordered steps —
# particle, possessive, case ending (sets ending_removed), other endings
# (R2), i-plural if ending_removed else t-plural, tidy. Among semantics
# follow the setlimit-tomark-p1 lesson (suffix must lie WITHIN the
# region; the LONGEST in-region match is chosen and then ITS condition
# applies — a failed condition fails the whole step, no backtracking to
# a shorter suffix). Preceded-by lookbacks are implemented unlimited
# (same decision as the Scandinavian valid-s-ending rule here).

FI_VOWELS = "aeiouyäö"
FI_V2 = "aeiouäö"  # the Vi condition's vowel set (no y)
FI_LONG = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")

_FI_PARTICLES = ("kaan", "kään", "kin", "han", "hän", "sti", "ko", "kö", "pa", "pä")
_FI_POSS = ("nsa", "nsä", "mme", "nne", "si", "ni", "an", "än", "en")
_FI_AN_PREV = ("ta", "ssa", "sta", "lla", "lta", "na")
_FI_AEN_PREV = ("tä", "ssä", "stä", "llä", "ltä", "nä")
_FI_EN_PREV = ("lle", "ine")
_FI_HXN = {"han": "a", "hen": "e", "hin": "i", "hon": "o", "hun": "u",
           "hyn": "y", "hän": "ä", "hön": "ö"}
_FI_CASE_PLAIN = ("ssa", "ssä", "sta", "stä", "lla", "llä", "lta", "ltä",
                  "lle", "ine", "ksi", "na", "nä", "ta", "tä")
# every case suffix, longest-first (the among is one longest-match table)
_FI_CASE = sorted(
    list(_FI_HXN) + ["siin", "den", "tten", "seen", "tta", "ttä"]
    + list(_FI_CASE_PLAIN) + ["a", "ä", "n"],
    key=lambda s: (-len(s), s),
)
_FI_OTHER = sorted(
    ["impi", "impa", "impä", "immi", "imma", "immä",
     "mpi", "mpa", "mpä", "mmi", "mma", "mmä", "eja", "ejä"],
    key=lambda s: (-len(s), s),
)


def _fi_ends_long(w: str) -> bool:
    return any(w.endswith(lv) for lv in FI_LONG)


def finnish_py(word: str) -> str:
    w = word
    r1, r2 = _r1r2_py(w, FI_VOWELS)

    # step 1: particles. longest in-R1 match; sti needs R2, the others a
    # preceding n, t or vowel
    for suf in sorted(_FI_PARTICLES, key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        if suf == "sti":
            if pos >= r2:
                w = w[:pos]
        else:
            if pos >= 1 and w[pos - 1] in ("nt" + FI_VOWELS):
                w = w[:pos]
        break

    # step 2: possessives
    for suf in sorted(_FI_POSS, key=lambda s: (-len(s), s)):
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        base = w[:pos]
        if suf == "si":
            if not base.endswith("k"):
                w = base
        elif suf == "ni":
            w = base
            if w.endswith("kse"):
                w = w[:-3] + "ksi"
        elif suf in ("nsa", "nsä", "mme", "nne"):
            w = base
        elif suf == "an":
            if any(base.endswith(p) for p in _FI_AN_PREV):
                w = base
        elif suf == "än":
            if any(base.endswith(p) for p in _FI_AEN_PREV):
                w = base
        elif suf == "en":
            if any(base.endswith(p) for p in _FI_EN_PREV):
                w = base
        break

    # step 3: case endings (sets ending_removed)
    ending_removed = False
    for suf in _FI_CASE:
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r1):
            continue
        base = w[:pos]
        if suf in _FI_HXN:
            if base.endswith(_FI_HXN[suf]):
                w, ending_removed = base, True
        elif suf in ("siin", "den", "tten"):
            # preceded by Vi (V2 vowel + i)
            if len(base) >= 2 and base[-1] == "i" and base[-2] in FI_V2:
                w, ending_removed = base, True
        elif suf == "seen":
            if _fi_ends_long(base):
                w, ending_removed = base, True
        elif suf in ("tta", "ttä"):
            if base.endswith("e"):
                w, ending_removed = base, True
        elif suf in ("a", "ä"):
            # preceded by cv (consonant then vowel)
            if (len(base) >= 2 and base[-1] in FI_VOWELS
                    and base[-2] not in FI_VOWELS):
                w, ending_removed = base, True
        elif suf == "n":
            w, ending_removed = base, True
            if _fi_ends_long(w) or w.endswith("ie"):
                w = w[:-1]
        else:  # plain list
            w, ending_removed = base, True
        break

    # step 4: other endings, in R2; the m-group must not follow po
    for suf in _FI_OTHER:
        pos = len(w) - len(suf)
        if not (w.endswith(suf) and pos >= r2):
            continue
        if suf.startswith("m") and w[:pos].endswith("po"):
            break
        w = w[:pos]
        break

    # step 5: i-plural after a removed case ending, else t-plural
    if ending_removed:
        if w and w[-1] in "ij" and len(w) - 1 >= r1:
            w = w[:-1]
    else:
        if (w.endswith("t") and len(w) - 1 >= r1
                and len(w) >= 2 and w[-2] in FI_VOWELS):
            w = w[:-1]
            for suf in ("imma", "mma"):
                pos = len(w) - len(suf)
                if w.endswith(suf) and pos >= r2:
                    if suf == "mma" and w[:pos].endswith("po"):
                        break
                    w = w[:pos]
                    break

    # step 6: tidy (each sub-rule independent, in order)
    if _fi_ends_long(w) and len(w) - 2 >= r1:
        w = w[:-1]
    if (len(w) >= 2 and w[-1] in "aäei" and w[-2] not in FI_VOWELS
            and len(w) - 2 >= r1):
        w = w[:-1]
    if w.endswith(("oj", "uj")) and len(w) - 2 >= r1:
        w = w[:-1]
    if w.endswith("jo") and len(w) - 2 >= r1:
        w = w[:-1]
    # undouble a final double consonant (whole-word tail)
    if (len(w) >= 2 and w[-1] == w[-2] and w[-1] not in FI_VOWELS):
        w = w[:-1]
    return w


def _fi_long_sql(x: str) -> str:
    return "(" + " OR ".join(f"ends_with({x}, '{lv}')" for lv in FI_LONG) + ")"


def _fi_prev_in(x: str, n: int, chars: str) -> str:
    cs = ",".join(f"'{c}'" for c in chars)
    return f"{_prev_sql(x, n)} IN ({cs})"


def _fi_s1_sql(x: str) -> str:
    whens = []
    for suf in sorted(_FI_PARTICLES, key=lambda s: (-len(s), s)):
        n = len(suf)
        b = _strip(x, n)
        cond = (
            f"length({x}) - {n} >= r2" if suf == "sti"
            else f"length({x}) - {n} >= 1 AND {_fi_prev_in(x, n, 'nt' + FI_VOWELS)}"
        )
        whens.append(
            f"WHEN length({x}) - {n} >= r1 AND ends_with({x}, '{suf}') THEN "
            f"CASE WHEN {cond} THEN {b} ELSE {x} END"
        )
    return "CASE\n    " + "\n    ".join(whens) + f"\n    ELSE {x} END"


def _fi_s2_sql(x: str) -> str:
    whens = []
    for suf in sorted(_FI_POSS, key=lambda s: (-len(s), s)):
        n = len(suf)
        b = _strip(x, n)
        if suf == "si":
            body = f"CASE WHEN NOT ends_with({b}, 'k') THEN {b} ELSE {x} END"
        elif suf == "ni":
            body = (
                f"CASE WHEN ends_with({b}, 'kse') "
                f"THEN {_strip(x, n + 1)} || 'i' ELSE {b} END"
            )
        elif suf in ("nsa", "nsä", "mme", "nne"):
            body = b
        else:
            prevs = {"an": _FI_AN_PREV, "än": _FI_AEN_PREV, "en": _FI_EN_PREV}[suf]
            cond = " OR ".join(f"ends_with({b}, '{p}')" for p in prevs)
            body = f"CASE WHEN {cond} THEN {b} ELSE {x} END"
        whens.append(
            f"WHEN length({x}) - {n} >= r1 AND ends_with({x}, '{suf}') THEN {body}"
        )
    return "CASE\n    " + "\n    ".join(whens) + f"\n    ELSE {x} END"


def _fi_s3_sql(x: str) -> tuple[str, str]:
    """(new-term expression, ending_removed expression)."""
    whens_t, whens_e = [], []
    for suf in _FI_CASE:
        n = len(suf)
        b = _strip(x, n)
        if suf in _FI_HXN:
            cond = f"ends_with({b}, '{_FI_HXN[suf]}')"
            body, fired = f"CASE WHEN {cond} THEN {b} ELSE {x} END", cond
        elif suf in ("siin", "den", "tten"):
            cond = (
                f"length({b}) >= 2 AND ends_with({b}, 'i') "
                f"AND {_fi_prev_in(b, 1, FI_V2)}"
            )
            body, fired = f"CASE WHEN {cond} THEN {b} ELSE {x} END", cond
        elif suf == "seen":
            cond = _fi_long_sql(b)
            body, fired = f"CASE WHEN {cond} THEN {b} ELSE {x} END", cond
        elif suf in ("tta", "ttä"):
            cond = f"ends_with({b}, 'e')"
            body, fired = f"CASE WHEN {cond} THEN {b} ELSE {x} END", cond
        elif suf in ("a", "ä"):
            cond = (
                f"length({b}) >= 2 AND {_fi_prev_in(b, 0, FI_VOWELS)} "
                f"AND NOT {_fi_prev_in(b, 1, FI_VOWELS)}"
            )
            body, fired = f"CASE WHEN {cond} THEN {b} ELSE {x} END", cond
        elif suf == "n":
            shorten = f"{_fi_long_sql(b)} OR ends_with({b}, 'ie')"
            body = f"CASE WHEN {shorten} THEN {_strip(x, 2)} ELSE {b} END"
            fired = "true"
        else:
            body, fired = b, "true"
        guard = f"length({x}) - {n} >= r1 AND ends_with({x}, '{suf}')"
        whens_t.append(f"WHEN {guard} THEN {body}")
        whens_e.append(f"WHEN {guard} THEN ({fired})")
    t = "CASE\n    " + "\n    ".join(whens_t) + f"\n    ELSE {x} END"
    e = "CASE\n    " + "\n    ".join(whens_e) + "\n    ELSE false END"
    return t, e


def _fi_s4_sql(x: str) -> str:
    whens = []
    for suf in _FI_OTHER:
        n = len(suf)
        b = _strip(x, n)
        guard = f"length({x}) - {n} >= r2 AND ends_with({x}, '{suf}')"
        if suf.startswith("m"):
            whens.append(
                f"WHEN {guard} THEN "
                f"CASE WHEN ends_with({b}, 'po') THEN {x} ELSE {b} END"
            )
        else:
            whens.append(f"WHEN {guard} THEN {b}")
    return "CASE\n    " + "\n    ".join(whens) + f"\n    ELSE {x} END"


def _fi_s5_sql(x: str) -> str:
    # i/j plural when er; else t-plural then the R2 (i)mma clip
    tless = _strip(x, 1)
    mma = []
    for suf in ("imma", "mma"):
        n = len(suf)
        b = _strip(tless, n)
        guard = f"length({tless}) - {n} >= r2 AND ends_with({tless}, '{suf}')"
        if suf == "mma":
            mma.append(
                f"WHEN {guard} THEN CASE WHEN ends_with({b}, 'po') "
                f"THEN {tless} ELSE {b} END"
            )
        else:
            mma.append(f"WHEN {guard} THEN {b}")
    t_branch = (
        f"CASE WHEN ends_with({x}, 't') AND length({x}) - 1 >= r1 "
        f"AND length({x}) >= 2 AND {_fi_prev_in(x, 1, FI_VOWELS)} THEN "
        f"(CASE\n      " + "\n      ".join(mma) + f"\n      ELSE {tless} END) "
        f"ELSE {x} END"
    )
    i_branch = (
        f"CASE WHEN (ends_with({x}, 'i') OR ends_with({x}, 'j')) "
        f"AND length({x}) - 1 >= r1 THEN {_strip(x, 1)} ELSE {x} END"
    )
    return f"CASE WHEN er THEN ({i_branch}) ELSE ({t_branch}) END"


def finnish_sql_ctes(src: str, out: str, p: str = "fi_") -> str:
    """``src(doc_id, term)`` → the six steps → ``out(doc_id, term)``.
    R1/R2 are computed once on the input term (steps only strip the tail,
    so the prefix-determined region starts stay valid — module invariant)."""
    r1, r2 = _r1r2_sql("term", FI_VOWELS)
    s3_t, s3_e = _fi_s3_sql("t")
    vlist = ",".join(f"'{c}'" for c in FI_VOWELS)
    aei = ",".join(f"'{c}'" for c in "aäei")
    tidy = [
        # a) shorten a final long vowel
        (f"CASE WHEN {_fi_long_sql('t')} AND length(t) - 2 >= r1 "
         f"THEN {_strip('t', 1)} ELSE t END"),
        # b) drop final a/ä/e/i after a consonant
        (f"CASE WHEN length(t) >= 2 AND substr(t, length(t), 1) IN ({aei}) "
         f"AND {_prev_sql('t', 1)} NOT IN ({vlist}) AND length(t) - 2 >= r1 "
         f"THEN {_strip('t', 1)} ELSE t END"),
        # c) j after o/u; d) o after j
        (f"CASE WHEN (ends_with(t, 'oj') OR ends_with(t, 'uj')) "
         f"AND length(t) - 2 >= r1 THEN {_strip('t', 1)} ELSE t END"),
        (f"CASE WHEN ends_with(t, 'jo') AND length(t) - 2 >= r1 "
         f"THEN {_strip('t', 1)} ELSE t END"),
        # e) undouble a final double consonant (whole-word tail)
        (f"CASE WHEN length(t) >= 2 "
         f"AND substr(t, length(t), 1) = {_prev_sql('t', 1)} "
         f"AND substr(t, length(t), 1) NOT IN ({vlist}) "
         f"THEN {_strip('t', 1)} ELSE t END"),
    ]
    ctes = [
        f"{p}b AS MATERIALIZED (\n  SELECT doc_id, term AS t, "
        f"{r1} AS r1, {r2} AS r2 FROM {src}\n)",
        f"{p}s1 AS MATERIALIZED (\n  SELECT doc_id, {_fi_s1_sql('t')} AS t, "
        f"r1, r2 FROM {p}b\n)",
        f"{p}s2 AS MATERIALIZED (\n  SELECT doc_id, {_fi_s2_sql('t')} AS t, "
        f"r1, r2 FROM {p}s1\n)",
        f"{p}s3 AS MATERIALIZED (\n  SELECT doc_id, {s3_t} AS t, "
        f"{s3_e} AS er, r1, r2 FROM {p}s2\n)",
        f"{p}s4 AS MATERIALIZED (\n  SELECT doc_id, {_fi_s4_sql('t')} AS t, "
        f"er, r1, r2 FROM {p}s3\n)",
        f"{p}s5 AS MATERIALIZED (\n  SELECT doc_id, {_fi_s5_sql('t')} AS t, "
        f"r1, r2 FROM {p}s4\n)",
    ]
    prev = f"{p}s5"
    for i, expr in enumerate(tidy):
        name = f"{p}t{i}" if i < len(tidy) - 1 else out
        keep = ", r1, r2" if i < len(tidy) - 1 else ""
        col = "t" if i < len(tidy) - 1 else "term"
        ctes.append(
            f"{name} AS MATERIALIZED (\n  SELECT doc_id, {expr} AS {col}{keep} "
            f"FROM {prev}\n)"
        )
        prev = name
    return ",\n".join(ctes)


# -------------------------------------------------------------- hungarian
# Published Snowball Hungarian stemmer (Tordai; snowballstem.org — the
# reference binds Lucene's HungarianAnalyzer, Language.scala:79). Only R1
# is used, with the special definition: a vowel-initial word's R1 starts
# after the first consonant UNIT (digraphs cs/dz/dzs/gy/ly/ny/sz/ty/zs
# count as one); a consonant-initial word's R1 starts after the first
# vowel. Nine ordered routines, each an independent `do`: instrumental
# (-val/-vel assimilated onto a doubled consonant: delete + undouble),
# case (delete + á→a/é→e v_ending), case_special (replacing), case_other,
# factive (-vá/-vé assimilated), owned (-é family), singular owner,
# plural owner, plural. Suffix families follow the regular pattern:
# a/e-forms delete, á/é-forms replace with a/e, bare form deletes.

HU_VOWELS = "aáeéiíoóöőuúüű"
_HU_DIGRAPHS = ("dzs", "cs", "dz", "gy", "ly", "ny", "sz", "ty", "zs")
_HU_DOUBLES = ("ccs", "ggy", "lly", "nny", "ssz", "tty", "zzs", "bb",
               "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm", "nn",
               "pp", "rr", "ss", "tt", "vv", "zz")

# (suffix, replacement) — "" = delete; longest-first at match time
_HU_CASE = [(s, "") for s in (
    "képpen", "onként", "enként", "anként", "ként", "képp",
    "ban", "ben", "nak", "nek", "val", "vel", "tól", "től",
    "ról", "ről", "ból", "ből", "hoz", "hez", "höz", "nál", "nél",
    "ért", "kor", "ba", "be", "ra", "re", "ig",
    "at", "et", "ot", "öt", "ul", "ül", "vá", "vé",
    "en", "on", "an", "ön", "n", "t",
)]
_HU_CASE_SPECIAL = [("ánként", "a"), ("án", "a"), ("én", "e")]
_HU_CASE_OTHER = [("ástul", "a"), ("éstül", "e"),
                  ("astul", ""), ("estül", ""), ("stul", ""), ("stül", "")]
_HU_OWNED = [("áké", "a"), ("éké", "e"), ("aké", ""), ("eké", ""),
             ("oké", ""), ("öké", ""), ("éé", "é"), ("ké", ""), ("é", "")]
_HU_SING_OWNER = [
    ("ünk", ""), ("unk", ""), ("ánk", "a"), ("énk", "e"), ("nk", ""),
    ("juk", ""), ("jük", ""), ("uk", ""), ("ük", ""),
    ("ám", "a"), ("ém", "e"), ("em", ""), ("om", ""), ("am", ""), ("m", ""),
    ("ád", "a"), ("éd", "e"), ("od", ""), ("ed", ""), ("ad", ""), ("öd", ""), ("d", ""),
    ("ja", ""), ("je", ""), ("a", ""), ("e", ""), ("o", ""),
    ("á", "a"), ("é", "e"),
]
_HU_PLUR_OWNER = [
    ("jaitok", ""), ("jeitek", ""), ("áitok", "a"), ("éitek", "e"),
    ("aitok", ""), ("eitek", ""), ("itek", ""),
    ("jaink", ""), ("jeink", ""), ("áink", "a"), ("éink", "e"),
    ("aink", ""), ("eink", ""), ("ink", ""),
    ("jaim", ""), ("jeim", ""), ("áim", "a"), ("éim", "e"),
    ("aim", ""), ("eim", ""), ("im", ""),
    ("jaid", ""), ("jeid", ""), ("áid", "a"), ("éid", "e"),
    ("aid", ""), ("eid", ""), ("id", ""),
    ("jaik", ""), ("jeik", ""), ("áik", "a"), ("éik", "e"),
    ("aik", ""), ("eik", ""), ("ik", ""),
    ("jai", ""), ("jei", ""), ("ái", "a"), ("éi", "e"),
    ("ai", ""), ("ei", ""), ("i", ""),
]
_HU_PLURAL = [("ák", "a"), ("ék", "e"), ("ok", ""), ("ek", ""),
              ("ak", ""), ("ök", ""), ("k", "")]


def _hu_r1_py(w: str) -> int:
    if not w:
        return _BIG
    if w[0] in HU_VOWELS:
        m = re.match(
            f"^[{HU_VOWELS}]+({'|'.join(_HU_DIGRAPHS)}|[^{HU_VOWELS}])", w
        )
    else:
        m = re.match(f"^[^{HU_VOWELS}]+[{HU_VOWELS}]", w)
    return m.end() if m else _BIG


def _hu_table(w: str, r1: int, table) -> str:
    for suf, rep in sorted(table, key=lambda t: -len(t[0])):
        if w.endswith(suf) and len(w) - len(suf) >= r1:
            return w[: len(w) - len(suf)] + rep
    return w


def _hu_undouble(w: str) -> str:
    for d in _HU_DOUBLES:
        if w.endswith(d):
            return w[:-1]
    return w


def _hu_v_ending(w: str) -> str:
    if w.endswith("á"):
        return w[:-1] + "a"
    if w.endswith("é"):
        return w[:-1] + "e"
    return w


def hungarian_py(word: str) -> str:
    """Steps in routine order; the á→a/é→e v_ending normalization runs
    after every routine (idempotent, final-char-only) so suffix chains
    exposing a lengthened linking vowel converge to the short form
    (fát→fá→fa, fákkal→fák→fá→fa via plural+v_ending)."""
    w = word
    r1 = _hu_r1_py(w)
    # instrumental: -al/-el on a doubled consonant
    for suf in ("al", "el"):
        if w.endswith(suf) and len(w) - 2 >= r1:
            base = w[:-2]
            if any(base.endswith(d) for d in _HU_DOUBLES):
                w = _hu_undouble(base)
            break
    w = _hu_v_ending(w)
    w = _hu_v_ending(_hu_table(w, r1, _HU_CASE))
    w = _hu_table(w, r1, _HU_CASE_SPECIAL)
    w = _hu_v_ending(_hu_table(w, r1, _HU_CASE_OTHER))
    # factive: -á/-é on a doubled consonant
    for suf in ("á", "é"):
        if w.endswith(suf) and len(w) - 1 >= r1:
            base = w[:-1]
            if any(base.endswith(d) for d in _HU_DOUBLES):
                w = _hu_undouble(base)
            break
    w = _hu_v_ending(_hu_table(w, r1, _HU_OWNED))
    w = _hu_v_ending(_hu_table(w, r1, _HU_SING_OWNER))
    w = _hu_v_ending(_hu_table(w, r1, _HU_PLUR_OWNER))
    w = _hu_v_ending(_hu_table(w, r1, _HU_PLURAL))
    return w


def _hu_r1_sql(x: str) -> str:
    dg = "|".join(_HU_DIGRAPHS)
    pv = f"^[{HU_VOWELS}]+({dg}|[^{HU_VOWELS}])"
    pc = f"^[^{HU_VOWELS}]+[{HU_VOWELS}]"
    first_v = f"substr({x}, 1, 1) IN ({','.join(chr(39) + c + chr(39) for c in HU_VOWELS)})"
    return (
        f"CASE WHEN {first_v} THEN "
        f"(CASE WHEN regexp_matches({x}, '{pv}') "
        f"THEN length(regexp_extract({x}, '{pv}')) ELSE {_BIG} END) "
        f"ELSE (CASE WHEN regexp_matches({x}, '{pc}') "
        f"THEN length(regexp_extract({x}, '{pc}')) ELSE {_BIG} END) END"
    )


def _hu_table_sql(x: str, table) -> str:
    whens = []
    for suf, rep in sorted(table, key=lambda t: -len(t[0])):
        n = len(suf)
        b = _strip(x, n)
        res = f"{b} || '{rep}'" if rep else b
        whens.append(
            f"WHEN length({x}) - {n} >= r1 AND ends_with({x}, '{suf}') THEN {res}"
        )
    return "CASE\n    " + "\n    ".join(whens) + f"\n    ELSE {x} END"


def _hu_ends_double_sql(x: str) -> str:
    return "(" + " OR ".join(f"ends_with({x}, '{d}')" for d in _HU_DOUBLES) + ")"


def _hu_v_ending_sql(x: str) -> str:
    return (
        f"CASE WHEN ends_with({x}, 'á') THEN {_strip(x, 1)} || 'a' "
        f"WHEN ends_with({x}, 'é') THEN {_strip(x, 1)} || 'e' ELSE {x} END"
    )


def _hu_instrum_sql(x: str) -> str:
    b = _strip(x, 2)
    return (
        f"CASE WHEN (ends_with({x}, 'al') OR ends_with({x}, 'el')) "
        f"AND length({x}) - 2 >= r1 AND {_hu_ends_double_sql(b)} "
        f"THEN {_strip(x, 3)} ELSE {x} END"
    )


def _hu_factive_sql(x: str) -> str:
    b = _strip(x, 1)
    return (
        f"CASE WHEN (ends_with({x}, 'á') OR ends_with({x}, 'é')) "
        f"AND length({x}) - 1 >= r1 AND {_hu_ends_double_sql(b)} "
        f"THEN {_strip(x, 2)} ELSE {x} END"
    )


def hungarian_sql_ctes(src: str, out: str, p: str = "hu_") -> str:
    """``src(doc_id, term)`` → the nine routines, each followed by a
    v_ending CTE where the python form applies it → ``out(doc_id, term)``.
    R1 computed once on the input term."""
    steps = [
        ("i", _hu_instrum_sql, True),
        ("c", lambda x: _hu_table_sql(x, _HU_CASE), True),
        ("cs", lambda x: _hu_table_sql(x, _HU_CASE_SPECIAL), False),
        ("co", lambda x: _hu_table_sql(x, _HU_CASE_OTHER), True),
        ("f", _hu_factive_sql, False),
        ("ow", lambda x: _hu_table_sql(x, _HU_OWNED), True),
        ("so", lambda x: _hu_table_sql(x, _HU_SING_OWNER), True),
        ("po", lambda x: _hu_table_sql(x, _HU_PLUR_OWNER), True),
        ("pl", lambda x: _hu_table_sql(x, _HU_PLURAL), True),
    ]
    ctes = [
        f"{p}b AS MATERIALIZED (\n  SELECT doc_id, term AS t, "
        f"{_hu_r1_sql('term')} AS r1 FROM {src}\n)"
    ]
    prev = f"{p}b"
    for name, fn, vend in steps:
        ctes.append(
            f"{p}{name} AS MATERIALIZED (\n  SELECT doc_id, {fn('t')} AS t, r1 "
            f"FROM {prev}\n)"
        )
        prev = f"{p}{name}"
        if vend:
            ctes.append(
                f"{p}{name}v AS MATERIALIZED (\n  SELECT doc_id, "
                f"{_hu_v_ending_sql('t')} AS t, r1 FROM {prev}\n)"
            )
            prev = f"{p}{name}v"
    ctes.append(
        f"{out} AS MATERIALIZED (\n  SELECT doc_id, t AS term FROM {prev}\n)"
    )
    return ",\n".join(ctes)
