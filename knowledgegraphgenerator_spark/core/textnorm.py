"""Text normalization: lowercase -> contraction expansion -> ``\\W+`` strip.

Semantics mirror the reference chain (P1-P3 in SURVEY.md §2.2):
/root/reference/StringProcessor.py:142-155 — lowercase; for ``en`` expand
standard English contractions (second pass only if an apostrophe survives
the first, StringProcessor.py:146-148), then collapse every non-word run
to a single space (Python ``re`` Unicode ``\\W``; leading/trailing spaces
are *not* stripped). Non-``en`` text is lowercased only.

The contraction table is standard public-knowledge English contraction
data. The reference compiles one big alternation with no word boundaries
and case-insensitive matching, replacement keyed by the lowercased match
(StringProcessor.py:127-140). Alternation order matters only when two keys
match at the same position, which implies one is a prefix of the other —
so ordering keys longest-first reproduces the reference's
extended-form-before-base-form ordering exactly.

Two departures from the literal reference pass, both output-preserving:

  * the alternation matches case-sensitively. Expansion runs on lowercased
    text, where ``IGNORECASE`` only adds the Unicode folds ``ſ``→``s`` and
    ``ı``→``i``; those matches are not table keys after ``.lower()``, so
    the reference raised ``KeyError`` on them (``"iſn't"``) and one such
    page failed a whole build. Case-sensitive matching leaves them as text.
  * the alternation runs only inside apostrophe runs. Every key contains
    ``'`` and no whitespace, so every match lies inside a maximal
    non-whitespace run that contains an apostrophe. Scanning those runs
    alone gives the same matches as scanning the whole string and skips
    the per-character alternation on the rest of the page.

This module is pure Python on purpose: Java regex ``\\W`` is ASCII-only
while Python's is Unicode-aware (SURVEY.md §7.4 item 1), so the whole
chain runs inside one Arrow UDF rather than ``F.regexp_replace``.
"""

from __future__ import annotations

import re

# Base contraction -> expansion map (public standard English contractions).
_BASE: dict[str, str] = {
    "ain't": "is not", "aren't": "are not", "can't": "cannot",
    "'cause": "because", "could've": "could have", "couldn't": "could not",
    "didn't": "did not", "doesn't": "does not", "don't": "do not",
    "hadn't": "had not", "hasn't": "has not", "haven't": "have not",
    "he'd": "he would", "he'll": "he will", "he's": "he is",
    "how'd": "how did", "how'll": "how will", "how's": "how is",
    "i'd": "i would", "i'll": "i will", "i'm": "i am", "i've": "i have",
    "isn't": "is not", "it'd": "it would", "it'll": "it will",
    "it's": "it is", "let's": "let us", "ma'am": "madam",
    "mayn't": "may not", "might've": "might have", "mightn't": "might not",
    "must've": "must have", "mustn't": "must not", "needn't": "need not",
    "o'clock": "of the clock", "oughtn't": "ought not",
    "shan't": "shall not", "she'd": "she would", "she'll": "she will",
    "she's": "she is", "should've": "should have",
    "shouldn't": "should not", "so've": "so have", "so's": "so is",
    "that'd": "that had", "that's": "that is", "there'd": "there would",
    "there's": "there is", "they'd": "they would", "they'll": "they will",
    "they're": "they are", "they've": "they have", "to've": "to have",
    "wasn't": "was not", "we'd": "we would", "we'll": "we will",
    "we're": "we are", "we've": "we have", "weren't": "were not",
    "what'll": "what will", "what're": "what are", "what's": "what is",
    "what've": "what have", "when's": "when is", "when've": "when have",
    "where'd": "where did", "where's": "where is",
    "where've": "where have", "who'll": "who will", "who's": "who is",
    "who've": "who have", "why's": "why is", "why've": "why have",
    "will've": "will have", "won't": "will not", "would've": "would have",
    "wouldn't": "would not", "y'all": "you all", "you'd": "you would",
    "you'll": "you will", "you're": "you are", "you've": "you have",
}

# Keys whose "'ve" extension is formed as expansion + " have". The few
# irregular extended/auxiliary forms follow as literals.
_VE_EXTENDED_KEYS = (
    "can't", "couldn't", "hadn't", "he'd", "he'll", "i'd", "i'll",
    "it'd", "it'll", "mightn't", "mustn't", "needn't", "oughtn't",
    "shan't", "she'd", "she'll", "shouldn't", "there'd", "they'd",
    "they'll", "we'd", "we'll", "what'll", "who'll", "won't",
    "wouldn't", "y'all", "you'd", "you'll",
)

_IRREGULAR: dict[str, str] = {
    # "that'd" expands to "that had" but "that'd've" to "that would have"
    "that'd've": "that would have",
    "how'd'y": "how do you",
    "sha'n't": "shall not",
    "y'all'd": "you all would",
    "y'all're": "you all are",
}


def _build_contractions() -> dict[str, str]:
    table = dict(_BASE)
    for key in _VE_EXTENDED_KEYS:
        table[key + "'ve"] = _BASE[key] + " have"
    table.update(_IRREGULAR)
    return table


CONTRACTIONS: dict[str, str] = _build_contractions()

# Longest-first alternation: see module docstring for why this reproduces
# the reference's ordering semantics.
_CONTRACTIONS_RE = re.compile(
    "(%s)" % "|".join(
        re.escape(k)
        for k in sorted(CONTRACTIONS, key=lambda k: (-len(k), k))
    )
)

# A maximal non-whitespace run holding an apostrophe. The lookbehind
# anchors each attempt at a run start, so a long apostrophe-free run costs
# one linear scan, not one per character.
_APOSTROPHE_RUN_RE = re.compile(r"(?<!\S)\S*'\S*")

_NON_WORD_RE = re.compile(r"\W+")

# Treebank CONTRACTIONS2/3 splits that survive ``\W+`` normalization
# (apostrophe-bearing entries like d'ye / more'n are already split by the
# non-word collapse). nltk.word_tokenize applies these on top of
# whitespace splitting — 'cannot' (produced by the can't -> cannot
# expansion) tokenizes as 'can'+'not' — so the match/extract token stream
# must replicate them or lemmatized docs diverge from the reference for
# contraction-bearing questions (ADVICE r1 item 3;
# /root/reference/analyzer/kg_export/language/Lemmatize.py:86-89).
TREEBANK_SPLITS: dict[str, tuple[str, ...]] = {
    "cannot": ("can", "not"),
    "gimme": ("gim", "me"),
    "gonna": ("gon", "na"),
    "gotta": ("got", "ta"),
    "lemme": ("lem", "me"),
    "wanna": ("wan", "na"),
    "whaddya": ("whad", "dd", "ya"),
    "whatcha": ("wha", "t", "cha"),
}


def _expand_run(m: re.Match) -> str:
    return _CONTRACTIONS_RE.sub(
        lambda c: CONTRACTIONS[c.group(0)], m.group(0)
    )


def expand_contractions(text: str) -> str:
    """One alternation pass over lowercased ``text``, run inside each
    apostrophe run (see module docstring)."""
    return _APOSTROPHE_RUN_RE.sub(_expand_run, text)


def normalize_text(text: str, lang: str = "en") -> str:
    """Reference-parity normalize (StringProcessor.normalize).

    lowercase -> (en only) expand contractions, re-expand once if an
    apostrophe survives, collapse non-word runs to single spaces.
    """
    if text is None:
        return None
    out = text.lower()
    if lang == "en":
        expanded = expand_contractions(out)
        if "'" in expanded:
            expanded = expand_contractions(expanded)
        out = _NON_WORD_RE.sub(" ", expanded)
    return out


def tokenize(text: str) -> list[str]:
    """Whitespace tokenization + Treebank CONTRACTIONS2/3 splits.

    On ``en``-normalized text every non-word char is already a single
    space, so whitespace split plus the TREEBANK_SPLITS table equals the
    reference's nltk.word_tokenize over ``\\w``-only text
    (/root/reference/analyzer/kg_export/language/Lemmatize.py:86-89; the
    Treebank tokenizer additionally splits cannot/gonna/wanna/... after
    the punctuation rules, which are no-ops on ``\\w``-only input).
    """
    if not text:
        return []
    out: list[str] = []
    for tok in text.split():
        split = TREEBANK_SPLITS.get(tok)
        if split is not None:
            out.extend(split)
        else:
            out.append(tok)
    return out
