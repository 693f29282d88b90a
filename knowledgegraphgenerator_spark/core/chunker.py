"""Deterministic noun-chunk + verb-span extraction (spaCy/textacy stand-in).

The reference extracts noun chunks with spaCy ``en_core_web_sm``
(/root/reference/strategy/phrase_finder.py:54,57) and verb spans with the
textacy POS regex ``<VERB>?<ADV>*<VERB>+`` (phrase_finder.py:67-75).
Neither spaCy nor its statistical model is available in this environment,
and a model-based chunker would make golden outputs nondeterministic across
model versions anyway (SURVEY.md §7.4 item 3). This module is therefore the
PINNED extractor spec for the engine: a closed-class-lexicon chunker that is
pure Python, versioned, and shared verbatim by

  * the build's one Python pass per page (pipeline.py:_page_pass), and
  * the sequential oracle (tests/ref_impl/pipeline.py)

so Spark-vs-oracle golden tests are exact by construction.

Semantics:
  * a *noun chunk* is a maximal run of tokens that are not closed-class
    function words and not verb/adverb tokens — the same span shape spaCy's
    noun_chunks yields on FAQ-style text;
  * a *verb span* is a maximal run of verb/adverb tokens containing at
    least one verb (the reference's ``<VERB>?<ADV>*<VERB>+``); its token
    *lemmas* are emitted (the reference takes ``span.lemma_.split()``,
    phrase_finder.py:72, which includes the adverb lemmas).

Input is expected to be normalize_text() output: lowercase, ``\\w``-only.
"""

from __future__ import annotations

from functools import lru_cache

from knowledgegraphgenerator_spark.core.lemmatize import verb_lemma
from knowledgegraphgenerator_spark.core.textnorm import tokenize

CHUNKER_VERSION = 1

# Closed-class function words that break noun chunks (determiners,
# prepositions, conjunctions, pronouns, particles). Corpus-independent:
# chunk boundaries must not depend on per-corpus stop-word config.
FUNCTION_WORDS: frozenset[str] = frozenset("""
a an the this that these those my your his her its our their whose
i you he she it we they me him us them myself yourself himself herself
itself ourselves themselves
of in on at by for with from to into onto about above below under over
between among through during before after since until within without
across against along around behind beneath beside near off per toward
towards upon via
and or but nor so yet if then than because although though while whereas
unless whether once as
what which who whom why when where how
not no nor
there here
""".split())

# Modal / auxiliary verbs — always verbs, never chunk content.
AUX_VERBS: frozenset[str] = frozenset("""
is are am was were be been being
do does did done doing
have has had having
can could shall should will would may might must need dare ought
""".split())

# Curated open-class verb lexicon (base forms). A token is a verb when its
# verb_lemma is in this set (covers -s/-ed/-ing inflections) or it is an
# auxiliary. Curated for FAQ/banking/web domains; extending the lexicon is
# a spec version bump (CHUNKER_VERSION).
VERB_LEXICON: frozenset[str] = frozenset("""
accept access activate add allow answer apply arrange ask avail become
begin believe block borrow bring buy call cancel carry change charge
check choose claim clear click close collect combine compare complete
configure confirm connect contact continue convert cost cover create
credit deactivate debit decide declare decline define delete deliver
deny deposit describe determine differ disable download earn enable
enroll ensure enter escalate exceed exchange execute expect expire
explain fail fetch file fill find fix follow forget generate get give
go happen help hold identify include increase indicate inform initiate
install intend invest invite issue keep know learn leave link load log
login logout lose maintain make manage mean mention miss modify move
need note notify obtain occur offer open operate order pay perform
place prepare present prevent process provide purchase put qualify
raise reach read receive recover redeem reduce refer refund register
reject release remain remember remove renew repay replace report
request require reset resolve respond restore retrieve return review
revoke run save say schedule see select sell send set settle share
show sign solve specify start stop submit subscribe succeed suggest
support suspend take talk tell think track trade transfer try turn
understand unlock unsubscribe update upgrade upload use validate
verify view visit wait want watch wire withdraw work write
""".split())

# Common adverbs allowed inside verb spans (plus any -ly token).
ADVERBS: frozenset[str] = frozenset("""
also already always never now often sometimes soon still just yet again
back even ever just maybe perhaps rather too very well
""".split())


# pure per-token function over a Zipf-distributed vocabulary: pages repeat
# tokens heavily, so a bounded cache skips most of the lexicon lookups
@lru_cache(maxsize=1 << 16)
def token_class(token: str) -> str:
    """Classify a normalized token: 'VERB' | 'ADV' | 'FUNC' | 'NOUNISH'."""
    if token in AUX_VERBS:
        return "VERB"
    if token in FUNCTION_WORDS:
        return "FUNC"
    if verb_lemma(token) in VERB_LEXICON:
        return "VERB"
    if token in ADVERBS or (token.endswith("ly") and len(token) > 3):
        return "ADV"
    return "NOUNISH"


def noun_chunks(sentence: str) -> list[list[str]]:
    """Maximal runs of NOUNISH tokens (raw, un-lemmatized — lemmatization
    happens downstream as in the reference, phrase_finder.py:58)."""
    chunks: list[list[str]] = []
    current: list[str] = []
    for tok in tokenize(sentence):
        if token_class(tok) == "NOUNISH":
            current.append(tok)
        elif current:
            chunks.append(current)
            current = []
    if current:
        chunks.append(current)
    return chunks


def verb_span_lemmas(sentence: str) -> list[str]:
    """Lemma tokens of every maximal VERB/ADV run containing >=1 VERB —
    the stand-in for textacy ``<VERB>?<ADV>*<VERB>+`` matches whose span
    lemma is split to tokens (phrase_finder.py:67-72)."""
    out: list[str] = []
    run: list[tuple[str, str]] = []  # (token, class)

    def flush() -> None:
        if run and any(c == "VERB" for _, c in run):
            for tok, c in run:
                out.append(verb_lemma(tok) if c == "VERB" else tok)
        run.clear()

    for tok in tokenize(sentence):
        c = token_class(tok)
        if c in ("VERB", "ADV"):
            run.append((tok, c))
        else:
            flush()
    flush()
    return out
