"""Text analyzers as deterministic tokenizers — pure Python + Spark columns.

The reference's physical schema attaches ElasticSearch analyzers to fields
(data_catalog/configuration_const.py:21-84):

- ``title``      -> ``english`` analyzer (standard tokenize, lowercase,
                    english stopwords, stemming).  We implement
                    tokenize+lowercase+stopwords; stemming is intentionally
                    approximated away (SURVEY §7 "hard parts") — it affects
                    recall only on stemmed-variant tokens and our oracle
                    encodes the same semantics on both sides.
- default fields -> ``standard`` analyzer: split on non-alphanumeric,
                    lowercase (dataSample, format, category, targetUri).
- ``sourceUri``  -> custom ``uri_analyzer``: ``lowercase`` tokenizer (splits
                    on non-letters) + stopwords {http, https, ftp, www, com}
                    (data_catalog/configuration_const.py:68-84).

Tokenization is defined by *regular expressions shared verbatim* between the
Python compiler (tokenizing query literals at compile time), the Spark plan
(``rlike`` match predicates — JVM-side, whole-stage-codegen friendly), and
the DuckDB oracle SQL (``regexp_matches``).  Alphanumeric-only tokens mean
the same pattern is valid in Java regex and RE2.

Scale note: matching via a codegen'd regexp over the scan beats materialized
token-array columns for the catalog's short fields; at 100 TB a write-time
token column + bloom filter / inverted index table would be layered on top,
but correctness never depends on it.  The served path
(``search.SearchIndex``) answers the same clauses from token postings of the
lowered columns, split with these same classes, which give the regex's
answer exactly (``token_match_pattern``).
"""

from __future__ import annotations

import re

# Splitting rules (the character classes are reused to build match patterns).
STANDARD_SPLIT = "[^a-z0-9]+"
URI_SPLIT = "[^a-z]+"

_STANDARD_SPLIT_RE = re.compile(STANDARD_SPLIT)
_URI_SPLIT_RE = re.compile(URI_SPLIT)

# uri_analyzer stop-filter — data_catalog/configuration_const.py:77-80.
URI_STOPWORDS = frozenset({"http", "https", "ftp", "www", "com"})

# A small english stopword set for the `english`-analyzed title field and for
# the text-quality operators (ES uses the lucene default english set; any
# fixed deterministic set preserves the reference's *semantics* — stopwords
# never match).
ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)


# Python's ``str.lower`` applies Unicode's full, context-sensitive case
# mapping; lowered one character at a time, only U+0130 (İ) still maps to
# more than one code point.
_SIMPLE_LOWER = {"\u0130": "i"}


def fold_case(text: str) -> str:
    """Lower each code point on its own (Unicode's simple case mapping), as
    Arrow's ``utf8_lower``, DuckDB's ``lower`` and Lucene's LowerCaseFilter
    lower a column: ``"İSTANBUL"`` → ``"istanbul"`` (``str.lower`` gives
    ``"i̇stanbul"``, i + U+0307) and a final ``"Σ"`` → ``"σ"`` (not
    ``"ς"``).  Query text and analyzed filter values go through it, so
    they fold the way the column they are compared with does."""
    return "".join(_SIMPLE_LOWER.get(c) or c.lower() for c in text)


def standard_tokens(text: str) -> list[str]:
    """Standard analyzer: lowercase, split on non-alphanumeric."""
    return [t for t in _STANDARD_SPLIT_RE.split(fold_case(text)) if t]


def english_tokens(text: str) -> list[str]:
    """English-ish analyzer: standard tokens minus english stopwords."""
    return [t for t in standard_tokens(text) if t not in ENGLISH_STOPWORDS]


def uri_tokens(text: str) -> list[str]:
    """uri_analyzer: lowercase tokenizer (split on non-letters) + stop-filter.

    Reference: data_catalog/configuration_const.py:68-84; e.g.
    ``http://www.foo.com/bar`` -> ``[foo, bar]``.
    """
    return [
        t for t in _URI_SPLIT_RE.split(fold_case(text)) if t and t not in URI_STOPWORDS
    ]


def token_match_pattern(tokens: list[str], split_class: str) -> str | None:
    """Regex matching a string whose token set intersects ``tokens``.

    ``split_class`` is the analyzer's splitting class (e.g. "[^a-z0-9]+");
    the boundary class is derived from it so "token membership" and "regex
    match on the raw lowered string" are exactly equivalent for tokens drawn
    from the complement alphabet.  Valid in Java regex (Spark ``rlike``) and
    RE2 (DuckDB ``regexp_matches``) alike.
    """
    toks = sorted(set(tokens))
    if not toks:
        return None
    boundary = split_class.rstrip("+")  # "[^a-z0-9]"
    alt = "|".join(re.escape(t) for t in toks)
    return f"(^|{boundary})({alt})({boundary}|$)"


# -- english suffix stemming (SURVEY hard-parts: configuration_const.py:26-29
# attaches ES's `english` analyzer, whose stemmer is Porter.  This is a
# deterministic, engine-portable rendering of Porter steps 1a, 1b (with its
# post-removal cleanup), 1c and 2, spelled as ordered regexp-chain STEPS:
# within a step the first matching rule wins (Porter picks the longest
# matching suffix — encoded by rule order); steps apply SEQUENTIALLY.
# Approximations, by declared design (SURVEY §7):
#  - the measure conditions m>0 / (m=1 ∧ *o) are encoded structurally:
#    "stem contains vowel-then-consonant" for m>0 (exact up to y-handling)
#    and an anchored ^C*VC shape for the 1b e-restoration;
#  - y counts as a vowel in V-containment classes ([aeiouy]) and as a
#    consonant in C classes ([^aeiou]) — Porter's contextual-y rule folded
#    to its common case;
#  - m>1 (steps 4/5) is encoded as "stem contains two VC pairs in order"
#    (_M2) — exact up to the same y-folding;
#  - step 5a's (m=1 ∧ ¬*o) e-removal enumerates the ¬*o shapes
#    structurally (stem ends in two consonants / vowel-vowel-consonant /
#    is a bare V+C block); the contextual w/x/y-final case folds in via
#    the CC shape where the classes allow;
#  - step 1a keeps 'ss'/'us' endings intact (Porter strips bare 's' of
#    'us'), avoiding 'bus'→'bu'-style overstemming on short tokens.
# Constraint shared by every rule: NO backreferences in patterns (DuckDB's
# regexp engine is RE2) — doubled consonants are enumerated per letter.
# Replacement groups render as $1 in Spark and \1 in DuckDB.

_V = "[aeiouy]"       # vowel (y included)
_C = "[^aeiou]"       # consonant (y included)
_M1 = f"[a-z]*{_V}{_C}[a-z]*"  # the m>0 proxy: stem contains a VC pair
# the m>1 proxy: two VC pairs in order (each maximal vowel-run/consonant-run
# boundary contributes one adjacent VC pair, so m>=2 iff two such pairs
# appear left-to-right — exact up to the declared y-folding)
_M2 = f"[a-z]*{_V}{_C}[a-z]*{_V}{_C}[a-z]*"

STEP_1A: list[tuple[str, str]] = [
    (r"sses$", "ss"),     # classes  -> class
    (r"ies$", "i"),       # queries  -> queri (Porter folds both query/queries here)
    (r"([^su])s$", "$1"), # widgets  -> widget; keeps 'ss'/'us' endings
]

# doubled consonants that undouble after ed/ing removal (Porter: all but
# l, s, z; w/x never double in practice and are excluded from the cvc rule)
_DOUBLES = "bdfgkmnprt"

STEP_1B: list[tuple[str, str]] = (
    [(rf"({_V}{_C}[a-z]*)eed$", "$1ee")]            # agreed -> agree; feed stays
    + [(rf"({_V}[a-z]*)at(ed|ing)$", "$1ate"),      # conflated -> conflate
       (rf"({_V}[a-z]*)bl(ed|ing)$", "$1ble"),      # troubled -> trouble
       (rf"({_V}[a-z]*)iz(ed|ing)$", "$1ize")]      # sized -> size
    + [(rf"({_V}[a-z]*{d}){d}(ed|ing)$", "$1") for d in _DOUBLES]  # hopped -> hop
    + [(rf"^({_C}*{_V}[^aeiouwxy])(ed|ing)$", "$1e"),  # filing -> file (m=1, *o)
       # [^e] guard: words ending 'eed' belong EXCLUSIVELY to the eed rule
       # (Porter: a failed (m>0)EED condition means NO change, not ed-strip)
       (rf"({_V}[a-z]*[^e])ed$", "$1"),             # plastered -> plaster
       (rf"({_V}[a-z]*)ing$", "$1")]                # motoring -> motor
)

STEP_1C: list[tuple[str, str]] = [
    (r"([aeiou][a-z]*)y$", "$1i"),                  # happy -> happi; sky stays
]

STEP_2: list[tuple[str, str]] = [
    (rf"({_M1})ational$", "$1ate"),   # relational -> relate; national stays (m=0)
    (rf"({_M1})ization$", "$1ize"),   # organization -> organize
    (rf"({_M1})iveness$", "$1ive"),   # effectiveness -> effective
    (rf"({_M1})fulness$", "$1ful"),   # hopefulness -> hopeful
    (rf"({_M1})ousness$", "$1ous"),   # callousness -> callous
    (rf"({_M1})tional$", "$1tion"),   # conditional -> condition
    (rf"({_M1})biliti$", "$1ble"),    # sensibiliti -> sensible
    (rf"({_M1})entli$", "$1ent"),     # differentli -> different
    (rf"({_M1})ousli$", "$1ous"),     # analogousli -> analogous
    (rf"({_M1})ation$", "$1ate"),     # activation -> activate
    (rf"({_M1})alism$", "$1al"),      # formalism -> formal
    (rf"({_M1})aliti$", "$1al"),      # formaliti -> formal
    (rf"({_M1})iviti$", "$1ive"),     # sensitiviti -> sensitive
    (rf"({_M1})enci$", "$1ence"),     # valenci -> valence
    (rf"({_M1})anci$", "$1ance"),     # hesitanci -> hesitance
    (rf"({_M1})izer$", "$1ize"),      # digitizer -> digitize
    (rf"({_M1})abli$", "$1able"),     # conformabli -> conformable
    (rf"({_M1})alli$", "$1al"),       # radicalli -> radical
    (rf"({_M1})ator$", "$1ate"),      # operator -> operate
    (rf"({_M1})eli$", "$1e"),         # nicely? (niceli -> nice)
]

# Porter step 3 (m>0): the -icate/-ative/-alize/-icity/-ical/-ful/-ness
# family (Porter 1980 §step 3).
STEP_3: list[tuple[str, str]] = [
    (rf"({_M1})icate$", "$1ic"),   # triplicate -> triplic
    (rf"({_M1})ative$", "$1"),     # formative  -> form
    (rf"({_M1})alize$", "$1al"),   # formalize  -> formal
    (rf"({_M1})iciti$", "$1ic"),   # electriciti -> electric
    (rf"({_M1})ical$", "$1ic"),    # electrical -> electric
    (rf"({_M1})ful$", "$1"),       # hopeful    -> hope
    (rf"({_M1})ness$", "$1"),      # goodness   -> good
]

# Porter step 4 (m>1): drop the remaining derivational suffix entirely.
# Porter dispatches on the LONGEST matching suffix and stops if its
# condition fails; a plain first-CHANGE-wins chain would instead fall
# through the nested ement ⊃ ment ⊃ ent family and overstem (document →
# docum).  The shorter family members therefore carry a negative-class
# guard excluding the longer suffix ([^e]ment, [^m]ent), which makes the
# chain equivalent to the dispatch for the only nested suffixes in this
# step; -ion additionally requires the stem to end in s/t (*S/*T).
STEP_4: list[tuple[str, str]] = [
    (rf"({_M2})ement$", "$1"),       # replacement -> replac
    (rf"({_M2}[^e])ment$", "$1"),    # adjustment  -> adjust; document stays
    (rf"({_M2})ance$", "$1"),        # allowance   -> allow
    (rf"({_M2})ence$", "$1"),        # inference   -> infer
    (rf"({_M2})able$", "$1"),        # adjustable  -> adjust
    (rf"({_M2})ible$", "$1"),        # defensible  -> defens
    (rf"({_M2}[st])ion$", "$1"),     # adoption    -> adopt; *S/*T guard
    (rf"({_M2})ant$", "$1"),         # irritant    -> irrit
    (rf"({_M2}[^m])ent$", "$1"),     # dependent   -> depend; element stays
    (rf"({_M2})ism$", "$1"),         # communism   -> commun
    (rf"({_M2})ate$", "$1"),         # activate    -> activ
    (rf"({_M2})iti$", "$1"),         # angulariti  -> angular
    (rf"({_M2})ous$", "$1"),         # homologous  -> homolog
    (rf"({_M2})ive$", "$1"),         # effective   -> effect
    (rf"({_M2})ize$", "$1"),         # bowdlerize  -> bowdler
    (rf"({_M2})al$", "$1"),          # revival     -> reviv
    (rf"({_M2})er$", "$1"),          # airliner    -> airlin
    (rf"({_M2})ic$", "$1"),          # gyroscop*ic -> gyroscop
    (rf"({_M2})ou$", "$1"),          # homologou   -> homolog
]

# Porter step 5a: final-e tidy — strip when m>1, or when m=1 and the stem
# does not end c-v-c (¬*o).  First-match-wins means the ¬*o rules below
# only ever see m<=1 stems (an m>1 word already matched rule 1), and each
# requires a VC pair so m=1 exactly.
STEP_5A: list[tuple[str, str]] = [
    (rf"({_M2})e$", "$1"),                            # probate -> probat; rate stays
    (rf"([a-z]*{_V}[a-z]*{_C}{_C})e$", "$1"),         # ends CC:  fence -> fenc, able -> abl
    (rf"([a-z]*{_V}{_V}[^aeiou])e$", "$1"),           # ends VVC: cease -> ceas
    (rf"([a-z]*{_V}{_C}[a-z]*{_V})e$", "$1"),         # ends V:   agree -> agre; free stays
    (rf"^({_V}+{_C})e$", "$1"),                       # bare V+C: axe -> ax; file stays (*o)
]

# Porter step 5b: (m>1 ∧ *d ∧ *L) — undouble a final ll.  The captured
# stem keeps one l; requiring a VC pair before the final vowel-run makes
# the retained stem m>1 by the same proxy (controll -> control, roll stays).
STEP_5B: list[tuple[str, str]] = [
    (rf"({_V}{_C}[a-z]*{_V}[a-z]*)ll$", "$1l"),
]

STEM_STEPS: list[list[tuple[str, str]]] = [
    STEP_1A,
    STEP_1B,
    STEP_1C,
    STEP_2,
    STEP_3,
    STEP_4,
    STEP_5A,
    STEP_5B,
]

# Back-compat alias (plural folding = step 1a).
STEM_RULES = STEP_1A


def stem(token: str) -> str:
    """Pure-python twin of the SQL renderings below (used in tests):
    sequential steps, first-match-wins within a step."""
    import re

    for rules in STEM_STEPS:
        for pat, rep in rules:
            new = re.sub(pat, rep.replace("$1", r"\1").replace("$2", r"\2"), token)
            if new != token:
                token = new
                break
    return token


def _stem_chain(
    var: str, backref: str, rules: list[tuple[str, str]], rlike: bool = False
) -> str:
    """One step's first-match-wins as a CASE chain (NOT nested replaces —
    applying a later rule to an earlier rule's output would double-strip).

    ``rlike``: guard each branch with a pattern MATCH instead of
    replace-and-compare.  Equivalent because every rule is an anchored
    suffix rewrite whose replacement always differs from the matched
    suffix (match ⟹ change), and ~2× cheaper per token (the old guard
    built the replaced string and string-compared it for every
    non-matching rule).  The Spark renderer opts in; the DuckDB oracle
    keeps the replace-and-compare spelling, so oracle equality pins the
    equivalence on every stem-consuming gate row (a 4k-word fuzz against
    the python twin also found zero divergence)."""
    branches = []
    for pat, rep in rules:
        r = rep.replace("$1", backref)
        guard = (
            f"{var} RLIKE '{pat}'"
            if rlike
            else f"regexp_replace({var}, '{pat}', '{r}') != {var}"
        )
        branches.append(
            f"WHEN {guard} THEN regexp_replace({var}, '{pat}', '{r}')"
        )
    return "CASE " + " ".join(branches) + f" ELSE {var} END"


def spark_stem_transform(arr_expr: str) -> str:
    """Stem every element of an ARRAY expression: one ``transform`` layer
    per Porter step, so total expression size is the SUM of the step chains
    (naive textual substitution of step N's output into step N+1 would grow
    the expression geometrically)."""
    out = arr_expr
    for rules in STEM_STEPS:
        out = f"transform({out}, x -> {_stem_chain('x', '$1', rules, rlike=True)})"
    return out


def duck_stem_transform(arr_expr: str) -> str:
    out = arr_expr
    for rules in STEM_STEPS:
        out = f"list_transform({out}, x -> {_stem_chain('x', chr(92) + '1', rules)})"
    return out


def spark_stem_expr(var: str = "x") -> str:
    """Scalar form: route through a 1-element array so the step chains
    nest LINEARLY (each lambda rebinds x) instead of substituting the whole
    previous step's text at every reference."""
    return f"element_at({spark_stem_transform(f'array({var})')}, 1)"


def duck_stem_expr(var: str = "x") -> str:
    return f"({duck_stem_transform(f'[{var}]')})[1]"
