"""P1-P3 normalization chain (reference StringProcessor.normalize parity
semantics: /root/reference/StringProcessor.py:142-155)."""

from __future__ import annotations

import random
import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from knowledgegraphgenerator_spark.core.textnorm import (
    CONTRACTIONS,
    expand_contractions,
    normalize_text,
    tokenize,
)


def test_lowercase_and_nonword_collapse():
    assert normalize_text("Hello,  World!!") == "hello world "
    assert normalize_text("A-B_C") == "a b_c"  # _ is \w


def test_contractions_expand():
    assert normalize_text("I can't do it") == "i cannot do it"
    assert normalize_text("won't") == "will not"
    assert normalize_text("What's the NEFT?") == "what is the neft "


def test_double_pass_only_matters_with_surviving_apostrophe():
    # shouldn't've: first pass expands "shouldn't" + leftover "'ve" handled
    # by the extended key; unconditional double pass == conditional pass
    out = normalize_text("you shouldn't've gone")
    assert "'" not in out
    assert "should not have" in out


def test_non_en_lowercase_only():
    assert normalize_text("C'est Bon!", lang="fr") == "c'est bon!"


def test_none_passthrough():
    assert normalize_text(None) is None


def test_trailing_space_preserved():
    # \W+ -> " " does NOT strip ends (StringProcessor.py:150-154)
    assert normalize_text("end?") == "end "


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@given(st.text(alphabet=st.characters(whitelist_categories=("Ll", "Nd", "Zs")), max_size=100))
@settings(max_examples=100, deadline=None)
def test_tokenize_roundtrip_on_clean_text(s):
    toks = tokenize(normalize_text(s))
    assert all(" " not in t and t for t in toks)


def test_expand_is_noop_without_apostrophe():
    s = "plain words without contractions"
    assert expand_contractions(s) == s


# ---------------------------------------------------------------------------
# The literal whole-string contraction pass (case-insensitive alternation
# over the whole text, replacement keyed by the lowercased match) and the
# normalize chain around it. ``tests/ref_impl`` shares ``normalize_text``
# with the engine, so this copy is the reference the run-scoped,
# case-sensitive expansion is checked against.

_REFERENCE_RE = re.compile(
    "(%s)" % "|".join(
        re.escape(k)
        for k in sorted(CONTRACTIONS, key=lambda k: (-len(k), k))
    ),
    re.IGNORECASE,
)
_REFERENCE_NON_WORD = re.compile(r"\W+")


def _reference_expand(text: str) -> str:
    return _REFERENCE_RE.sub(
        lambda m: CONTRACTIONS[m.group(0).lower()], text
    )


def _reference_normalize(text: str, lang: str = "en") -> str:
    out = text.lower()
    if lang == "en":
        expanded = _reference_expand(out)
        if "'" in expanded:
            expanded = _reference_expand(expanded)
        out = _REFERENCE_NON_WORD.sub(" ", expanded)
    return out


# contraction keys (as written and upper-cased), stray apostrophes, the
# whitespace kinds that end a run (tab, newline, NBSP, U+3000), the
# characters IGNORECASE folds onto ASCII (long s, dotless i, dotted
# capital I, Kelvin sign) and plain word/punctuation characters
_KEYS = sorted(CONTRACTIONS)
_ATOMS = [
    "'", "''", " ", "\t", "\n", " ", "　", "ſ", "ı", "İ", "K",
    "a", "s", "t", "n", "I", "S", "N'T", "'ve", "'s", "'m", ".", "-", "é",
]


def _random_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(0, 10)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice(_KEYS))
        elif r < 0.5:
            parts.append(rng.choice(_KEYS).upper())
        else:
            parts.append(rng.choice(_ATOMS))
    return "".join(parts)


def test_run_scoped_expansion_matches_whole_string_pass():
    rng = random.Random(20260)
    compared = 0
    for _ in range(20_000):
        s = _random_text(rng)
        try:
            want_norm = _reference_normalize(s)
            want_expand = _reference_expand(s.lower())
        except KeyError:
            # the reference's own case-fold crash; the engine must not
            # raise there (test_case_folds_do_not_raise)
            normalize_text(s)
            continue
        assert normalize_text(s) == want_norm, s
        assert expand_contractions(s.lower()) == want_expand, s
        compared += 1
    assert compared > 19_000


def test_case_folds_do_not_raise():
    # IGNORECASE folded ſ/ı onto ASCII keys that .lower() leaves unchanged
    # ("iſn't" matched "isn't"), so the lookup raised KeyError
    assert normalize_text("iſn't") == "iſn t"
    assert normalize_text("it'ſ fine") == "it ſ fine"
    assert normalize_text("ı'm") == "ı m"
    # "İ".lower() is "i" + U+0307, a non-word character
    assert normalize_text("I'M SURE İT'S OK") == "i am sure i t s ok"
    assert normalize_text("K'") == "k "


def test_long_apostrophe_free_run_is_linear():
    run = "x" * 100_000
    t = time.perf_counter()
    assert expand_contractions(run) == run
    assert normalize_text(run + " can't") == run + " cannot"
    # a quadratic scan of the run takes tens of seconds
    assert time.perf_counter() - t < 2.0
