"""Snowball German/French stemmers: spec-traced outputs + two-form identity.

Expected values are hand-traced from the published Snowball algorithm
descriptions (snowballstem.org German/French); the heavier guarantee is that
the Python form and the generated-DuckDB-SQL form agree everywhere — on real
vocab, on the synthetic corpus tokens, and on hypothesis-random Latin
strings (the property the correctness gate depends on).
"""

from __future__ import annotations

import duckdb

from hypothesis import given, settings
from hypothesis import strategies as st

from nixiesearch_spark.snowball import (
    catalan_py,
    catalan_sql_ctes,
    danish_py,
    danish_sql_ctes,
    dutch_py,
    dutch_sql_ctes,
    norwegian_py,
    norwegian_sql_ctes,
    russian_py,
    russian_sql_ctes,
    swedish_py,
    swedish_sql_ctes,
    french_py,
    french_sql_ctes,
    german_py,
    german_sql_ctes,
    italian_py,
    italian_sql_ctes,
    portuguese_py,
    portuguese_sql_ctes,
    romanian_py,
    romanian_sql_ctes,
    spanish_py,
    spanish_sql_ctes,
)

GERMAN_CASES = {
    # step 1 plural/case endings (R1)
    "katzen": "katz", "laufen": "lauf", "filtern": "filt", "joins": "join",
    "streamen": "stream", "hunden": "hund", "kinder": "kind",
    # ß → ss, umlaut removal in the postlude
    "bücher": "buch", "größte": "grosst", "füße": "fuss",
    # niss fixup: verständnisse → verständniss → verständnis
    "verständnisse": "verstandnis",
    # step 2 st-removal after step 1 (valid st-ending, >= 3 letters before)
    "schönsten": "schon",
    # step 3 d-suffixes in R2, incl. the ung→ig secondary; "lich" in
    # heimlich/freundlich starts BEFORE R2 so it survives (Snowball keeps it)
    "reinigung": "reinig", "heimlich": "heimlich", "freundlich": "freundlich",
    "möglichkeit": "moglich", "sauberkeit": "sauber",
    "verständlich": "verstand",
    # ig after e is kept
    "wenig": "wenig",
    # too short / empty regions: untouched (minus umlaut strip)
    "rot": "rot", "das": "das", "zu": "zu",
    # u between vowels marked consonant: bauen → "bau" + en in R1?
    # b a u e n: marking a(v) u e(v) → aUe; vowels a,e; r1 = max(|"bau"|? —
    # first v-nv pair is (a,U) → prefix "baU" len 3 → r1 3; "en" at 3 → cut
    "bauen": "bau",
}

FRENCH_CASES = {
    # step 1 standard suffixes
    "continuation": "continu", "consolation": "consol", "amoureuse": "amour",
    "majestueux": "majestu",
    # ement in RV + step 5 un-double + accent kept on the prefix
    "étonnement": "éton",
    # logie → log, usion → u
    "analogies": "analog",
    # step 2b é-verb endings
    "donné": "don", "montrèrent": "montr",  # donné: 2b é-strip then step-5 un-double
    # step 4 residual: ion after t (R2), e-removal, s-removal
    "tables": "tabl", "merges": "merg", "parts": "part",
    # step 3: final ç → c after an altered step (menaçons? keep simple)
    # eaux → eau, aux → al
    "châteaux": "château", "journaux": "journal",
    # untouched short words
    "le": "le", "par": "par",
}


SPANISH_CASES = {
    # step 1 standard suffixes in R2
    "generalizaciones": "generaliz", "nacionalidad": "nacional",
    "fácilmente": "facil",
    # step 2b verb endings in RV
    "trabajando": "trabaj", "comieron": "com", "hablaba": "habl",
    # step 3 residual vowel + un-accent
    "canciones": "cancion", "datos": "dat", "tablas": "tabl",
    "partes": "part",
    # "ido" is the participle ending and starts exactly at RV — classic
    # stemmer overstemming on the adjective homograph
    "rápido": "rap",
    # attached pronoun (step 0): quitárselo → quitar → quit
    "quitárselo": "quit",
    # short / untouched
    "sol": "sol", "de": "de",
}


ITALIAN_CASES = {
    # step 1 standard suffixes
    "abbandonata": "abbandon", "nazionalità": "nazional",
    "bellissimo": "bellissim",
    # step 2 verb suffixes
    "lavorando": "lavor", "pronunciare": "pronunc",
    # step 0 pronoun: mangiarla → mangiare → mang (ar+e then step2+3a)
    "mangiarla": "mang",
    # step 3a final vowel (+ preceding i)
    "tavoli": "tavol", "ragazzi": "ragazz", "dati": "dat", "parti": "part",
    # step 3b ch → c
    "giochi": "gioc",
    # untouched short words
    "re": "re", "blu": "blu",
}


PORTUGUESE_CASES = {
    # step 1 standard suffixes in R2 (nasal prelude: ção → ça~o)
    "nacionalidades": "nacional", "declaração": "declar",
    "declarações": "declar", "importância": "import",
    "felizmente": "feliz", "rapidamente": "rapid",
    # step 2 verb suffixes in RV
    "gostaria": "gost", "falando": "fal", "compramos": "compr",
    "dizendo": "diz",
    # step 4 residual + step 5 final-e + nasal postlude
    "grande": "grand", "função": "funçã", "partes": "part",
    # untouched short words
    "sol": "sol", "de": "de",
}

DUTCH_CASES = {
    # step 1 en-removal + undouble; s needs a valid s-ending (not a vowel)
    "katten": "kat", "huizen": "huiz", "bomen": "bom", "vrouwen": "vrouw",
    "bakken": "bak", "huis": "huis",
    # r1_min=3 keeps short prefixes intact
    "ogen": "ogen",
    # step 3b lijk + repeated step 2; 3a heid
    "lichamelijk": "licham", "heerlijkheid": "heerlijk",
    # step 4 vowel undouble
    "maan": "man", "brood": "brod",
    # untouched
    "de": "de", "stream": "stream",
}


SWEDISH_CASES = {
    # step 1 among (definite/plural/genitive forms), s-ending rule
    "flickorna": "flick", "jakten": "jakt", "dansade": "dans",
    "svenskhetens": "svensk", "hundens": "hund", "hunds": "hund",
    # step 2 consonant cluster + step 3
    "friskt": "frisk", "möjlig": "möj",
    # fullt/löst replacements need the suffix INSIDE R1 (whole words keep)
    "fullt": "fullt", "sorgfullt": "sorgfull", "sorglöst": "sorglös",
    # amongs match WITHIN R1: surface-longest "heter" pokes out of R1, the
    # within-R1 "er" wins (setlimit tomark p1 — reference SwedishStemmer)
    "heter": "het", "ärlig": "ärl",
    "bok": "bok", "de": "de",
}

NORWEGIAN_CASES = {
    "huset": "hus", "jenter": "jent", "kastet": "kast",
    # erte/ert → er
    "lærerte": "lærer",
    # s-ending incl. k-not-after-vowel
    "fisks": "fisk",
    # step 3 longest-match picks elig over ig
    "hemmelig": "hemm", "billigere": "billiger", "viktigste": "viktigst",
    # within-R1 among: heten → het, arlig → arl
    "heten": "het", "arlig": "arl",
    "bok": "bok",
}

DANISH_CASES = {
    "huset": "hus", "kvinderne": "kvind", "sikkerhedens": "sikker",
    # step 4 undouble
    "bakker": "bak",
    # igst → st removal chains into the ig delete
    "vigtigst": "vigt", "venligst": "ven",
    "dejlig": "dej", "bog": "bog",
    # within-R1 among: hedens → hed; løst needs the WHOLE suffix in R1
    "hedens": "hed", "løst": "løst", "arlig": "arl",
}


ROMANIAN_CASES = {
    # step 0 plural/article removal (R1), chained into the final vowel
    "partea": "part", "datele": "dat", "indexul": "index",
    "copiilor": "cop", "muncitorilor": "muncit",
    # the guarded 'ile' (not after ab): mobile strips, abile keeps the
    # surface 'ile' (whole-step failure, no fallthrough) then drops 'e'
    "mobile": "mob", "abile": "abil",
    # step 1 combining suffixes (the repeat's second iteration on
    # ativitate -> ativ stops: the new 'ativ' match starts before R1)
    "abilitate": "abil", "ativitate": "ativ", "calculatoarele": "calcul",
    # step 2 (R2) incl. the ist identity-success that blocks the verb step
    "frumoasele": "frumoas", "importante": "import",
    # verb suffixes within RV, group-1 consonant-or-u test
    "lucrează": "lucr", "mergeau": "merg", "folosește": "folos",
    # 'ind' whose preceding char falls outside RV: no removal
    "citind": "citind",
    # cedilla normalization: both spellings agree
    "româneşte": "român", "românește": "român",
    # untouched / short
    "index": "index", "nu": "nu", "": "",
}


def test_romanian_spec_cases():
    bad = {
        w: (romanian_py(w), want)
        for w, want in ROMANIAN_CASES.items()
        if romanian_py(w) != want
    }
    assert not bad, bad


def test_romanian_sql_equals_python():
    words = list(ROMANIAN_CASES) + [
        "a", "ă", "iii", "aiua", "uau", "ii", "ile", "iile", "ist", "xist",
        "xistă", "istițiune", "națiune", "fricțiune", "ațiune", "seserăți",
        "useră", "âserăți", "copiii", "luați", "fiului", "importanta",
        "ativitativitate", "spark", "foo_bar", "batches",
    ]
    got = _sql_stem(words, romanian_sql_ctes)
    want = [romanian_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


RO_ALPHA = "abcdefghijlmnoprstuvăâîșțşţ_0123456789"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=RO_ALPHA, min_size=0, max_size=12), min_size=1, max_size=30))
def test_romanian_two_form_identity_random(words):
    got = _sql_stem(words, romanian_sql_ctes)
    want = [romanian_py(w) for w in words]
    assert got == want, [(w, g, p) for w, g, p in zip(words, got, want) if g != p]



CATALAN_CASES = {
    # standard suffixes: res-3 'log' / res-4 'ic' replacements in R2,
    # -ment (R2 delete), plural/derivational chains
    "lógicament": "logic", "tècniques": "tecn",
    "aproximadament": "aproximad", "considerablement": "considerabl",
    "filtres": "filtr", "filtre": "filt", "parts": "part",
    "indexs": "index", "índexs": "index", "consultes": "consult",
    "taules": "taul", "sistemes": "sistem",
    "important": "import", "importants": "import",
    # ela geminada: '·' → '.' in the clean step
    "col·legi": "col.leg", "il·lusió": "il.lu",
    # verb suffixes (standard failed → verb runs)
    "cantar": "cant", "cantaria": "cant", "estudiàvem": "estud",
    "cantant": "cant",
    # attached pronouns (hyphen/apostrophe forms — stemmer-level; the
    # tokenizer splits these in engine use)
    "donar-me": "don", "donar's": "don",
    # deaccent in clean, ü/qü handling
    "anàlisi": "analis", "qüestió": "quest", "qüestions": "quest",
    # untouched / short
    "de": "de", "": "",
}


def test_catalan_spec_cases():
    bad = {
        w: (catalan_py(w), want)
        for w, want in CATALAN_CASES.items()
        if catalan_py(w) != want
    }
    assert not bad, bad


def test_catalan_sql_equals_python():
    words = list(CATALAN_CASES) + [
        "a", "à", "iques", "àtiques", "lógic", "lógiques", "quíssim",
        "issimes", "cantar-nos", "estudiar's", "ïs", "açò", "prreu",
        "uería", "spark", "foo_bar", "batches", "·", "l·l",
    ]
    got = _sql_stem(words, catalan_sql_ctes)
    want = [catalan_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


CA_ALPHA = "abcdefghijlmnopqrstuvxyzçàáèéìíïòóúü·'-_0123456789"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=CA_ALPHA, min_size=0, max_size=12), min_size=1, max_size=30))
def test_catalan_two_form_identity_random(words):
    got = _sql_stem(words, catalan_sql_ctes)
    want = [catalan_py(w) for w in words]
    assert got == want, [(w, g, p) for w, g, p in zip(words, got, want) if g != p]


def test_scandinavian_spec_cases():
    for fn, cases in (
        (swedish_py, SWEDISH_CASES),
        (norwegian_py, NORWEGIAN_CASES),
        (danish_py, DANISH_CASES),
    ):
        bad = {w: (fn(w), want) for w, want in cases.items() if fn(w) != want}
        assert not bad, (fn.__name__, bad)


def test_scandinavian_sql_equals_python():
    extra = ["", "s", "ss", "datas", "parten", "streamene", "parterne",
             "løst", "aløst", "erte", "ks", "aks", "tt", "att"]
    for pyf, sqlf, cases in (
        (swedish_py, swedish_sql_ctes, SWEDISH_CASES),
        (norwegian_py, norwegian_sql_ctes, NORWEGIAN_CASES),
        (danish_py, danish_sql_ctes, DANISH_CASES),
    ):
        words = list(cases) + list(GERMAN_CASES) + extra
        got = _sql_stem(words, sqlf)
        want = [pyf(w) for w in words]
        bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
        assert not bad, (pyf.__name__, bad)


NORDIC = "abcdefghijklmnopqrstuvwxyzäåöæø_0123456789"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=NORDIC, min_size=0, max_size=12), min_size=1, max_size=30))
def test_scandinavian_two_form_identity_random(words):
    for pyf, sqlf in (
        (swedish_py, swedish_sql_ctes),
        (norwegian_py, norwegian_sql_ctes),
        (danish_py, danish_sql_ctes),
    ):
        got = _sql_stem(words, sqlf)
        want = [pyf(w) for w in words]
        assert got == want, (pyf.__name__,
                             [(w, g, p) for w, g, p in zip(words, got, want) if g != p])


RUSSIAN_CASES = {
    # step 1 alternatives: adjectival (+participle), verb, noun — all in RV
    "данные": "дан", "таблицы": "таблиц", "потоке": "поток",
    "запросов": "запрос", "быстрый": "быстр", "работающий": "работа",
    "записывается": "записыва", "книгами": "книг", "делавшийся": "дела",
    # step 3 R2 + step 4 (ейш / undouble н / ь)
    "скорость": "скорост", "красивейший": "красив",
    # prelude ё→е
    "ёлки": "елк",
    # untouched
    "индекс": "индекс", "и": "и",
}


def test_russian_spec_cases():
    bad = {
        w: (russian_py(w), want)
        for w, want in RUSSIAN_CASES.items()
        if russian_py(w) != want
    }
    assert not bad, bad


def test_russian_sql_equals_python():
    words = list(RUSSIAN_CASES) + [
        "", "н", "нн", "ннн", "ь", "ться", "важнейший", "возможности",
        "пользователями", "программирование", "исследований", "связанные",
        "русский", "понимает", "читавшись", "погулявши", "mixed", "ascii",
    ]
    got = _sql_stem(words, russian_sql_ctes)
    want = [russian_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


CYRILLIC = "абвгдежзийклмнопрстуфхцчшщъыьэюяё"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=CYRILLIC, min_size=0, max_size=12), min_size=1, max_size=30))
def test_russian_two_form_identity_random(words):
    got = _sql_stem(words, russian_sql_ctes)
    want = [russian_py(w) for w in words]
    assert got == want, [(w, g, p) for w, g, p in zip(words, got, want) if g != p]


def test_portuguese_spec_cases():
    bad = {
        w: (portuguese_py(w), want)
        for w, want in PORTUGUESE_CASES.items()
        if portuguese_py(w) != want
    }
    assert not bad, bad


def test_dutch_spec_cases():
    bad = {
        w: (dutch_py(w), want)
        for w, want in DUTCH_CASES.items()
        if dutch_py(w) != want
    }
    assert not bad, bad


def test_italian_spec_cases():
    bad = {
        w: (italian_py(w), want)
        for w, want in ITALIAN_CASES.items()
        if italian_py(w) != want
    }
    assert not bad, bad


def test_spanish_spec_cases():
    bad = {
        w: (spanish_py(w), want)
        for w, want in SPANISH_CASES.items()
        if spanish_py(w) != want
    }
    assert not bad, bad


def test_german_spec_cases():
    bad = {w: (german_py(w), want) for w, want in GERMAN_CASES.items() if german_py(w) != want}
    assert not bad, bad


def test_french_spec_cases():
    bad = {w: (french_py(w), want) for w, want in FRENCH_CASES.items() if french_py(w) != want}
    assert not bad, bad


def _sql_stem(words: list[str], ctes_fn) -> list[str]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE src AS SELECT i AS doc_id, w AS term "
        "FROM (SELECT unnest(range(len($words))) AS i, unnest($words) AS w)",
        {"words": words},
    )
    frag = ctes_fn("src", "out_cte", "x_")
    rows = con.execute(
        f"WITH RECURSIVE {frag.strip()} SELECT term FROM out_cte ORDER BY doc_id"
    ).fetchall()
    return [r[0] for r in rows]


EXTRA_WORDS = [
    "", "a", "ä", "ss", "ßß", "auen", "aueue", "ayua", "quai", "yeux",
    "payer", "ennuyé", "joUis", "qualités", "voudriez", "indemnité",
    "généralisation", "sécurité", "activités", "gouvernement", "heureusement",
    "assurément", "possibilités", "immobilier", "guë", "aiguë", "batches",
    "windows", "spark", "foo_bar", "x1ing", "größenordnung", "zusammengehörigkeit",
    "aufeinanderfolgenden", "betriebsbereitschaft", "wettbewerbsfähigkeit",
]


def test_german_sql_equals_python():
    words = list(GERMAN_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, german_sql_ctes)
    want = [german_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


def test_french_sql_equals_python():
    words = list(GERMAN_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, french_sql_ctes)
    want = [french_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


def test_spanish_sql_equals_python():
    words = list(SPANISH_CASES) + list(GERMAN_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, spanish_sql_ctes)
    want = [spanish_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


def test_italian_sql_equals_python():
    words = list(ITALIAN_CASES) + list(SPANISH_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, italian_sql_ctes)
    want = [italian_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


LATIN = "abcdefghijklmnopqrstuvwxyzäöüßàâéèêëïîôûùçáíóúñãõêôìòy_0123456789"


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet=LATIN, min_size=0, max_size=14), min_size=1, max_size=40))
def test_two_form_identity_random(words):
    got_de = _sql_stem(words, german_sql_ctes)
    want_de = [german_py(w) for w in words]
    assert got_de == want_de, [
        (w, g, p) for w, g, p in zip(words, got_de, want_de) if g != p
    ]
    got_fr = _sql_stem(words, french_sql_ctes)
    want_fr = [french_py(w) for w in words]
    assert got_fr == want_fr, [
        (w, g, p) for w, g, p in zip(words, got_fr, want_fr) if g != p
    ]
    got_es = _sql_stem(words, spanish_sql_ctes)
    want_es = [spanish_py(w) for w in words]
    assert got_es == want_es, [
        (w, g, p) for w, g, p in zip(words, got_es, want_es) if g != p
    ]
    got_it = _sql_stem(words, italian_sql_ctes)
    want_it = [italian_py(w) for w in words]
    assert got_it == want_it, [
        (w, g, p) for w, g, p in zip(words, got_it, want_it) if g != p
    ]
    got_pt = _sql_stem(words, portuguese_sql_ctes)
    want_pt = [portuguese_py(w) for w in words]
    assert got_pt == want_pt, [
        (w, g, p) for w, g, p in zip(words, got_pt, want_pt) if g != p
    ]
    got_nl = _sql_stem(words, dutch_sql_ctes)
    want_nl = [dutch_py(w) for w in words]
    assert got_nl == want_nl, [
        (w, g, p) for w, g, p in zip(words, got_nl, want_nl) if g != p
    ]


def test_portuguese_sql_equals_python():
    words = list(PORTUGUESE_CASES) + list(SPANISH_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, portuguese_sql_ctes)
    want = [portuguese_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


def test_dutch_sql_equals_python():
    words = list(DUTCH_CASES) + list(GERMAN_CASES) + list(FRENCH_CASES) + EXTRA_WORDS
    got = _sql_stem(words, dutch_sql_ctes)
    want = [dutch_py(w) for w in words]
    bad = {w: (g, p) for w, g, p in zip(words, got, want) if g != p}
    assert not bad, bad


def test_analyzer_chain_german_french():
    from nixiesearch_spark.analysis import analyzer_py

    # unicode tokenizer keeps accented words whole; stopwords drop; stems
    assert analyzer_py("german")("Die Bücher und die Katzen laufen") == [
        "buch", "katz", "lauf",
    ]
    assert analyzer_py("french")("les tables et la continuation") == [
        "tabl", "continu",
    ]
    assert analyzer_py("spanish")("las canciones y los datos rápidos") == [
        "cancion", "dat", "rap",
    ]
    assert analyzer_py("portuguese")("as declarações e funções") == [
        "declar", "funçõ",
    ]
    assert analyzer_py("dutch")("de katten en de huizen") == ["kat", "huiz"]


def test_spark_column_form_matches_python(spark):
    from pyspark.sql import functions as F

    from nixiesearch_spark.analysis import analyzer_col, analyzer_py

    rows = [(i, t) for i, t in enumerate(["Die Bücher laufen", "étonnement des tables", None])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for lang in ("german", "french", "spanish"):
        got = {
            r["doc_id"]: r["toks"]
            for r in df.select("doc_id", analyzer_col(lang)(F.col("text")).alias("toks")).collect()
        }
        want = {i: analyzer_py(lang)(t) for i, t in rows}
        assert got == want, (lang, got, want)


def test_oracle_sql_text_independent_of_hash_seed():
    """oracle_sql() text must not depend on set iteration order: the
    among-tables sort ties on length break by the suffix itself."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dump = (
        "import json, sys, __spark_entry__ as e; "
        "sys.stdout.write(json.dumps(e.oracle_sql(), sort_keys=True))"
    )
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        p = subprocess.run(
            [sys.executable, "-c", dump], cwd=root, env=env, capture_output=True,
            timeout=300,
        )
        assert p.returncode == 0, p.stderr.decode()[-2000:]
        outs.append(p.stdout)
    assert outs[0] and outs[0] == outs[1]
