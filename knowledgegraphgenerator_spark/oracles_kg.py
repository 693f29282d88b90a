"""DuckDB oracle SQL for the FULL KG pipeline (kg_triples / kg_ontology).

Round-1 left the flagship queries rows-only ("no_oracle"); this module
closes that gap (VERDICT r1 'Next round' #2) by generating one ANSI-ish
DuckDB SQL statement that recomputes the ENTIRE pipeline —

  normalize (P1-P3) → Treebank token splits → chunker classification
  (pinned spec, core/chunker.py) → noun-chunk / verb-span extraction →
  per-chunk lemmatized n-grams (N6) → corpus dictionaries with strict
  thresholds (A1/A2) + equal-count substring dedup (A3) → greedy MASKED
  term assignment in most_common order (J1, via a recursive CTE applying
  the reference's ``\\b term \\b`` → ``~~~~`` re.sub semantics step by
  step) → substring filter + merged-count sort + root append (O1/A5) →
  G1/G2 graph optimiser → triple derivation (Appendix A.10)

— from the same ``documents`` parquet the Spark query reads. The SQL is
GENERATED from the engine's own pinned spec tables (chunker lexicons,
lemma rules, stop words, config constants) so both sides share one spec;
what the oracle verifies is that the DISTRIBUTED execution (Arrow passes,
shuffles, joins, fused optimiser) computes exactly what the sequential
relational formulation computes, value-for-value, on the driver's data.

Scale note: the recursive CTE is the ORACLE's formulation, not the
engine's — sequential greedy masking is inherently order-dependent, and
SQL recursion is the honest way to state it. The engine runs the same
semantics inside one Arrow pass with a token-indexed candidate prefilter
(core/matching.py).

Corpus-shape assumptions (asserted true for the driver's testdata):
ASCII text, no apostrophes (contraction expansion is a provable no-op —
every contraction key contains ``'``), so the P2 contraction pass is
omitted from the generated SQL. The Spark side runs the full chain.

Reference citations: /root/reference/strategy/phrase_finder.py:16-79,
NGramStrategy.py:21-113, graph_optmiser/Optmiser.py:8-62.
"""

from __future__ import annotations

from knowledgegraphgenerator_spark.config import (
    BOT_NAME,
    MASK_TOKEN,
    OPTIMISER_MAX_QUES,
    OPTIMISER_NODE_LEVEL,
    PHRASES_FREQ_THRESHOLD,
    UNIGRAM_FREQ_THRESHOLD,
)
from knowledgegraphgenerator_spark.core.chunker import (
    ADVERBS,
    AUX_VERBS,
    FUNCTION_WORDS,
    VERB_LEXICON,
)
from knowledgegraphgenerator_spark.core.lemmatize import (
    _COMMON_E_VERBS,
    _NOUN_RULES,
    _VERB_EXCEPTIONS,
    NOUN_EXCEPTIONS,
)
from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
from knowledgegraphgenerator_spark.core.textnorm import TREEBANK_SPLITS

_VOWELS = ("a", "e", "i", "o", "u")


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _inlist(words) -> str:
    return "(" + ", ".join(_q(w) for w in sorted(words)) + ")"


def _case_map(col: str, mapping: dict[str, str]) -> str:
    whens = " ".join(
        f"WHEN {_q(k)} THEN {_q(v)}" for k, v in sorted(mapping.items())
    )
    return f"CASE {col} {whens} END"


def _noun_lemma_sql(col: str) -> str:
    """SQL CASE mirror of core/lemmatize.noun_lemma (input is lowercase)."""
    rules = []
    for suffix, repl in _NOUN_RULES:
        n = len(suffix)
        stem = f"substr({col}, 1, length({col}) - {n}) || {_q(repl)}"
        rules.append(
            f"WHEN ends_with({col}, {_q(suffix)})"
            f" AND length({col}) - {n} + {len(repl)} >= 2 THEN {stem}"
        )
    rule_chain = " ".join(rules)
    keep = " OR ".join(
        f"ends_with({col}, {_q(s)})" for s in ("ss", "us", "is", "'s")
    )
    return (
        f"CASE WHEN {col} IN {_inlist(NOUN_EXCEPTIONS)} THEN "
        f"{_case_map(col, NOUN_EXCEPTIONS)} "
        f"WHEN length({col}) <= 3 OR NOT ends_with({col}, 's') OR {keep} "
        f"THEN {col} {rule_chain} ELSE {col} END"
    )


def _verb_suffix_sql(col: str, n: int, min_len: int) -> str:
    """The -ing/-ed stem logic of core/lemmatize.verb_lemma for suffix
    length ``n`` (3 for ing, 2 for ed); min_len = len(suffix)+2 guard."""
    stem = f"substr({col}, 1, length({col}) - {n})"
    last = f"substr({col}, length({col}) - {n}, 1)"    # stem[-1]
    last2 = f"substr({col}, length({col}) - {n + 1}, 1)"  # stem[-2]
    vowels = _inlist(_VOWELS)
    return (
        "CASE "
        # consonant doubling (stem len >= 3 is implied by len > suffix+2)
        f"WHEN {last} = {last2} AND {last} NOT IN {vowels} "
        f"AND {last} NOT IN ('l', 's') THEN substr({col}, 1, length({col}) - {n + 1}) "
        # silent-e restoration against the pinned e-verb lexicon
        f"WHEN {last} NOT IN {vowels} AND {last2} IN {vowels} "
        f"AND {stem} || 'e' IN {_inlist(_COMMON_E_VERBS)} THEN {stem} || 'e' "
        f"ELSE {stem} END"
    )


def _verb_lemma_sql(col: str) -> str:
    """SQL CASE mirror of core/lemmatize.verb_lemma (input is lowercase)."""
    return (
        f"CASE WHEN {col} IN {_inlist(_VERB_EXCEPTIONS)} THEN "
        f"{_case_map(col, _VERB_EXCEPTIONS)} "
        f"WHEN ends_with({col}, 'ing') AND length({col}) > 5 THEN "
        f"{_verb_suffix_sql(col, 3, 5)} "
        f"WHEN ends_with({col}, 'ed') AND length({col}) > 4 THEN "
        f"{_verb_suffix_sql(col, 2, 4)} "
        f"WHEN ends_with({col}, 'ies') AND length({col}) > 4 "
        f"THEN substr({col}, 1, length({col}) - 3) || 'y' "
        f"WHEN ends_with({col}, 'es') AND length({col}) > 3 "
        f"AND substr({col}, length({col}) - 2, 1) IN ('o','s','x','z') "
        f"THEN substr({col}, 1, length({col}) - 2) "
        f"WHEN ends_with({col}, 's') AND NOT ends_with({col}, 'ss') "
        f"AND length({col}) > 3 THEN substr({col}, 1, length({col}) - 1) "
        f"ELSE {col} END"
    )


def _treebank_sql(col: str) -> str:
    """Chained regexp_replace applying TREEBANK_SPLITS at word boundaries
    (string-level equivalent of the token-level splits in tokenize())."""
    out = col
    for word, parts in sorted(TREEBANK_SPLITS.items()):
        out = (
            f"regexp_replace({out}, '\\b{word}\\b', "
            f"{_q(' '.join(parts))}, 'g')"
        )
    return out


# Deterministic seed documents for the docs_at_root gate (VERDICT r4
# "What's wrong" #4): the synthetic sf corpora share vocabulary so
# heavily that every document matches at least one dictionary term —
# the D2 "bare root, no tags" bucket is empty on BOTH engines and the
# oracle row is trivially green. These pure-stopword documents extract
# no noun chunks (every chunk lemma is a stop word), so they provably
# land at the bare root; BOTH the Spark query and the generated DuckDB
# oracle union them onto the corpus, making the driver row
# discriminating. Ids sit far above any synthetic corpus id range.
DOCS_AT_ROOT_SEEDS: list[tuple[int, str, str]] = [
    (9_000_001, "the of and to in for on it as", "en"),
    (9_000_002, "was were been being because while", "en"),
    (9_000_003, "a an the", "en"),
]


def seeded_documents_sql() -> str:
    """DuckDB relation: the ``documents`` view UNION ALL the
    DOCS_AT_ROOT_SEEDS rows — the oracle-side twin of the Spark
    query's ``unionByName`` of the same literals."""
    vals = ", ".join(
        f"({i}, {_q(t)}, {_q(lang)})" for i, t, lang in DOCS_AT_ROOT_SEEDS
    )
    return (
        "(SELECT doc_id, text, lang FROM documents UNION ALL "
        f"SELECT * FROM (VALUES {vals}) seeds(doc_id, text, lang)) docs_src"
    )


def _onto_ctes(source: str = "documents") -> str:
    """Shared WITH-chain producing onto(doc_id, question, terms, tags).

    ``source`` is the FROM-clause relation for the corpus — the default
    ``documents`` view, or :func:`seeded_documents_sql` for the
    seeded docs_at_root gate."""
    stops = resolve_stop_words("en", None)
    stops_in = _inlist(stops)
    sep = "chr(1)"
    bot = _q(BOT_NAME)
    e_mask = _q(MASK_TOKEN)
    nl = OPTIMISER_NODE_LEVEL
    mq = OPTIMISER_MAX_QUES

    return f"""
-- P1-P3 normalize (en: lower + \\W+ -> ' '; other langs lower only —
-- ASCII corpus, so RE2 [^0-9a-z_] == Python \\W on lowered text) followed
-- by the Treebank CONTRACTIONS2/3 splits applied string-level
norm AS MATERIALIZED (
  SELECT doc_id, text AS raw,
         {_treebank_sql(
             "CASE WHEN lang = 'en' THEN"
             " regexp_replace(lower(text), '[^0-9a-z_]+', ' ', 'g')"
             " ELSE lower(text) END"
         )} AS sent
  FROM {source}
),
toks0 AS MATERIALIZED (
  SELECT doc_id, raw,
         unnest(generate_series(1, len(string_split(sent, ' ')))) AS rawpos,
         unnest(string_split(sent, ' ')) AS tok
  FROM norm
),
toks AS MATERIALIZED (
  SELECT doc_id, raw, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
  FROM toks0 WHERE tok <> ''
),
-- pinned-spec token classification + lemmas, once per distinct token
vocab0 AS MATERIALIZED (
  SELECT tok, {_noun_lemma_sql("tok")} AS nlem, {_verb_lemma_sql("tok")} AS vlem
  FROM (SELECT DISTINCT tok FROM toks)
),
vocab AS MATERIALIZED (
  SELECT tok, nlem, vlem,
         CASE WHEN tok IN {_inlist(AUX_VERBS)} THEN 'VERB'
              WHEN tok IN {_inlist(FUNCTION_WORDS)} THEN 'FUNC'
              WHEN vlem IN {_inlist(VERB_LEXICON)} THEN 'VERB'
              WHEN tok IN {_inlist(ADVERBS)}
                   OR (ends_with(tok, 'ly') AND length(tok) > 3) THEN 'ADV'
              ELSE 'NOUNISH' END AS cls
  FROM vocab0
),
ctoks AS MATERIALIZED (
  SELECT t.doc_id, t.pos, t.tok, v.cls, v.nlem, v.vlem
  FROM toks t JOIN vocab v USING (tok)
),
-- noun chunks: maximal NOUNISH runs (gaps-and-islands)
nruns AS MATERIALIZED (
  SELECT doc_id, pos, nlem,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM ctoks WHERE cls = 'NOUNISH'
),
-- chunk tokens: lemmatize then drop stop lemmas; idx = within-chunk order
chunk_toks AS MATERIALIZED (
  SELECT doc_id, grp, pos, nlem,
         row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS idx
  FROM nruns WHERE nlem NOT IN {stops_in}
),
-- unigrams: surviving chunk tokens with len > 1, in emission order
unigrams AS MATERIALIZED (
  SELECT doc_id, nlem AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY grp, idx) AS epos
  FROM chunk_toks WHERE length(nlem) > 1
),
-- phrases: per chunk, trigrams then bigrams (emission order = Counter
-- insertion order, phrase_finder.py:61-62)
tri AS MATERIALIZED (
  SELECT a.doc_id, a.grp, a.idx AS start,
         a.nlem || ' ' || b.nlem || ' ' || c.nlem AS term
  FROM chunk_toks a
  JOIN chunk_toks b ON b.doc_id = a.doc_id AND b.grp = a.grp AND b.idx = a.idx + 1
  JOIN chunk_toks c ON c.doc_id = a.doc_id AND c.grp = a.grp AND c.idx = a.idx + 2
),
bi AS MATERIALIZED (
  SELECT a.doc_id, a.grp, a.idx AS start, a.nlem || ' ' || b.nlem AS term
  FROM chunk_toks a
  JOIN chunk_toks b ON b.doc_id = a.doc_id AND b.grp = a.grp AND b.idx = a.idx + 1
),
phrases AS MATERIALIZED (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY grp, n DESC, start)
           AS epos
  FROM (SELECT doc_id, grp, start, 3 AS n, term FROM tri
        UNION ALL
        SELECT doc_id, grp, start, 2 AS n, term FROM bi)
),
-- verb spans: maximal VERB/ADV runs containing >= 1 VERB; emit verb
-- lemmas (VERB) / raw tokens (ADV); then stop/len>1 filter
vruns AS MATERIALIZED (
  SELECT doc_id, pos, tok, cls, vlem,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM ctoks WHERE cls IN ('VERB', 'ADV')
),
vspans AS MATERIALIZED (
  SELECT doc_id, grp FROM vruns GROUP BY doc_id, grp
  HAVING sum(CASE WHEN cls = 'VERB' THEN 1 ELSE 0 END) >= 1
),
verbs AS MATERIALIZED (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS epos
  FROM (
    SELECT r.doc_id, r.pos,
           CASE WHEN r.cls = 'VERB' THEN r.vlem ELSE r.tok END AS term
    FROM vruns r JOIN vspans s ON s.doc_id = r.doc_id AND s.grp = r.grp
  ) WHERE length(term) > 1 AND term NOT IN {stops_in}
),
-- corpus dictionaries; fs = first-seen key (doc_id, emission pos) packed
-- into one monotone integer — Counter-insertion-order tiebreaker
phr_cnt AS MATERIALIZED (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt,
         min(doc_id * 1000000 + epos) AS fs
  FROM phrases GROUP BY term HAVING count(*) > {PHRASES_FREQ_THRESHOLD}
),
-- A3: drop B when a same-count superstring A exists
phr_dict AS MATERIALIZED (
  SELECT * FROM phr_cnt x WHERE NOT EXISTS (
    SELECT 1 FROM phr_cnt o
    WHERE o.cnt = x.cnt AND o.term <> x.term
      AND position(x.term IN o.term) > 0)
),
uni_dict AS MATERIALIZED (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt,
         min(doc_id * 1000000 + epos) AS fs
  FROM unigrams GROUP BY term HAVING count(*) > {UNIGRAM_FREQ_THRESHOLD}
),
verb_dict AS MATERIALIZED (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt,
         min(doc_id * 1000000 + epos) AS fs
  FROM verbs GROUP BY term
),
-- A5 merged counts: dict.update overwrite phrases <- unigrams <- verbs
-- (verbs UNthresholded here, NGramStrategy.py:52-55)
merged AS MATERIALIZED (
  SELECT coalesce(v.term, u.term, p.term) AS term,
         coalesce(v.cnt, u.cnt, p.cnt) AS mcnt
  FROM phr_dict p
  FULL JOIN uni_dict u ON u.term = p.term
  FULL JOIN verb_dict v ON v.term = coalesce(u.term, p.term)
),
-- matching dictionary: sections in scan order; stop-term skip for
-- phrases/unigrams (NGramStrategy.py:69-70,84-85); verbs cnt >= 2
-- (break-at-1, :93-94)
dict_all AS MATERIALIZED (
  SELECT 0 AS sec, term, cnt, fs FROM phr_dict WHERE term NOT IN {stops_in}
  UNION ALL
  SELECT 1, term, cnt, fs FROM uni_dict WHERE term NOT IN {stops_in}
  UNION ALL
  SELECT 2, term, cnt, fs FROM verb_dict WHERE cnt >= 2
),
-- match doc: every token noun-lemmatized, space-joined
mdocs AS MATERIALIZED (
  SELECT doc_id, string_agg(nlem, ' ' ORDER BY pos) AS ldoc
  FROM ctoks GROUP BY doc_id
),
alldocs AS MATERIALIZED (
  SELECT n.doc_id, n.raw, coalesce(m.ldoc, '') AS ldoc
  FROM norm n LEFT JOIN mdocs m USING (doc_id)
),
-- candidates: terms whose token sequence occurs in the UNMASKED doc
-- (space-padded containment == \\b containment on \\w-token strings);
-- masking only destroys matches, so this is the exact initial-match set.
-- step order = section, then most_common (cnt DESC, first-seen ASC)
cand AS MATERIALIZED (
  SELECT d.doc_id, t.term, t.sec,
         row_number() OVER (PARTITION BY d.doc_id
                            ORDER BY t.sec, t.cnt DESC, t.fs) AS step
  FROM alldocs d JOIN dict_all t
    ON position(' ' || t.term || ' ' IN ' ' || d.ldoc || ' ') > 0
),
-- greedy masked scan: one recursion step per candidate, replaying the
-- reference's re.sub('\\b term \\b' -> '~~~~') in ranked order; verbs
-- (sec 2) test against the post-masking doc but never mask
rec AS (
  SELECT doc_id, 0 AS step, ldoc AS state,
         CAST(NULL AS VARCHAR) AS term, -1 AS sec, FALSE AS matched
  FROM alldocs
  UNION ALL
  SELECT r.doc_id, c.step,
         CASE WHEN c.sec < 2
                   AND regexp_matches(r.state, '\\b' || c.term || '\\b')
              THEN regexp_replace(r.state, '\\b' || c.term || '\\b',
                                  {e_mask}, 'g')
              ELSE r.state END,
         c.term, c.sec,
         regexp_matches(r.state, '\\b' || c.term || '\\b')
  FROM rec r JOIN cand c ON c.doc_id = r.doc_id AND c.step = r.step + 1
),
mterm AS MATERIALIZED (
  SELECT doc_id, step, term FROM rec WHERE matched AND sec < 2
),
-- last matching verb in ranked order wins (NGramStrategy.py:92-100)
mtag AS MATERIALIZED (
  SELECT doc_id, term FROM rec WHERE matched AND sec = 2
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY step DESC) = 1
),
-- substring filter over matched terms (NGramStrategy.py:21-33)
mterm_f AS MATERIALIZED (
  SELECT a.doc_id, a.step, a.term FROM mterm a
  WHERE NOT EXISTS (
    SELECT 1 FROM mterm b
    WHERE b.doc_id = a.doc_id AND b.term <> a.term
      AND position(a.term IN b.term) > 0)
),
-- O1: ascending merged count, stable by match-discovery order
doc_terms AS MATERIALIZED (
  SELECT t.doc_id, list(t.term ORDER BY m.mcnt, t.step) AS terms0
  FROM mterm_f t JOIN merged m USING (term) GROUP BY t.doc_id
),
-- single-content-word fallback tag from the RAW question
-- (NGramStrategy.py:36-47): strip, drop one trailing '?', lowercase
-- whitespace split minus stop words; exactly one word left -> tag
fb AS MATERIALIZED (
  SELECT doc_id, CASE WHEN count(DISTINCT w) = 1 THEN min(w) END AS fb_tag
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             lower(CASE WHEN ends_with(trim(raw, ' ' || chr(9) || chr(10) || chr(13)), '?')
                        THEN substr(trim(raw, ' ' || chr(9) || chr(10) || chr(13)), 1,
                                    length(trim(raw, ' ' || chr(9) || chr(10) || chr(13))) - 1)
                        ELSE trim(raw, ' ' || chr(9) || chr(10) || chr(13)) END),
             '\\s+')) AS w
    FROM alldocs
  ) WHERE w <> '' AND w NOT IN {stops_in}
  GROUP BY doc_id
),
onto0 AS MATERIALIZED (
  SELECT d.doc_id, d.raw AS question,
         list_append(coalesce(t.terms0, CAST([] AS VARCHAR[])), {bot}) AS terms,
         CASE WHEN g.term IS NOT NULL THEN [g.term]
              WHEN t.terms0 IS NULL AND f.fb_tag IS NOT NULL THEN [f.fb_tag]
              ELSE CAST([] AS VARCHAR[]) END AS tags
  FROM alldocs d
  LEFT JOIN doc_terms t USING (doc_id)
  LEFT JOIN mtag g USING (doc_id)
  LEFT JOIN fb f USING (doc_id)
),
-- G1 + G2 (Optmiser.py:8-62), like the distributed decision table in
-- operators/hierarchy.py:
-- demotion decided per distinct path, G2 on the post-G1 recomputed paths
paths AS MATERIALIZED (
  SELECT doc_id, question, terms, tags, list_reverse(terms) AS path,
         array_to_string(list_reverse(terms), {sep}) AS pkey
  FROM onto0
),
pstat AS MATERIALIZED (
  SELECT pkey, any_value(path) AS path, count(*) AS n_ques
  FROM paths GROUP BY pkey
),
prefixes AS MATERIALIZED (
  SELECT pkey,
         unnest(list_transform(generate_series(2, len(path) - 1),
                i -> array_to_string(list_slice(path, 1, i), {sep}))) AS pfx_key,
         unnest(list_transform(generate_series(2, len(path) - 1),
                i -> path[i])) AS last_term
  FROM pstat WHERE len(path) >= 3
),
demoted AS MATERIALIZED (
  SELECT p.pkey, list(DISTINCT p.last_term) AS dem
  FROM prefixes p LEFT JOIN pstat s ON s.pkey = p.pfx_key
  WHERE s.pkey IS NULL
  GROUP BY p.pkey
),
pstat2 AS MATERIALIZED (
  SELECT s.pkey, s.n_ques, d.dem,
         CASE WHEN d.dem IS NULL THEN s.path
              ELSE list_filter(s.path, x -> NOT list_contains(d.dem, x))
         END AS new_path
  FROM pstat s LEFT JOIN demoted d ON d.pkey = s.pkey
),
g2 AS MATERIALIZED (
  SELECT array_to_string(new_path, {sep}) AS npkey, sum(n_ques) AS total
  FROM pstat2 GROUP BY 1
),
decisions AS MATERIALIZED (
  SELECT s.pkey, s.dem, s.new_path,
         (len(s.new_path) = {nl + 1} AND g.total < {mq}) AS collapse
  FROM pstat2 s JOIN g2 g ON array_to_string(s.new_path, {sep}) = g.npkey
),
onto AS MATERIALIZED (
  SELECT p.doc_id, p.question,
         CASE WHEN dc.collapse
              THEN list_reverse(list_slice(dc.new_path, 1, {nl}))
              WHEN dc.dem IS NOT NULL
              THEN list_filter(p.terms, x -> NOT list_contains(dc.dem, x))
              ELSE p.terms END AS terms,
         list_concat(
           list_concat(
             p.tags,
             CASE WHEN dc.dem IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE list_filter(p.terms, x -> list_contains(dc.dem, x))
             END),
           CASE WHEN dc.collapse
                THEN list_slice(dc.new_path, {nl + 1}, len(dc.new_path))
                ELSE CAST([] AS VARCHAR[]) END) AS tags
  FROM paths p JOIN decisions dc ON dc.pkey = p.pkey
)
"""


def _triples_select() -> str:
    """The (subj, pred, obj) distinct-set SELECT over ``onto`` — shared
    by the triple oracle and the KG-graph oracles built on top of it."""
    bot = _q(BOT_NAME)
    return f"""SELECT DISTINCT subj, pred, obj FROM (
  SELECT question AS subj, 'has_term' AS pred,
         unnest(list_filter(terms, x -> x <> {bot})) AS obj
  FROM onto
  UNION ALL
  SELECT question, 'has_tag', unnest(tags) FROM onto
  UNION ALL
  SELECT unnest(list_transform(generate_series(2, len(p)),
                               i -> p[i])) AS subj,
         'narrower_than',
         unnest(list_transform(generate_series(2, len(p)),
                               i -> p[i - 1]))
  FROM (SELECT list_reverse(terms) AS p FROM onto) WHERE len(p) >= 2
)"""


def kg_triples_oracle_sql() -> str:
    """Full-pipeline triple oracle: (subj, pred, obj) distinct set."""
    return f"""WITH RECURSIVE {_onto_ctes()}
{_triples_select()}"""


def kg_entity_degree_oracle_sql() -> str:
    """KG entity-degree oracle: per (object entity, predicate) fact count
    and distinct-subject count over the full-pipeline triple set —
    the standard first KG-quality aggregation a consumer runs."""
    return f"""WITH RECURSIVE {_onto_ctes()},
triples AS MATERIALIZED ({_triples_select()})
SELECT obj AS entity, pred,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects
FROM triples GROUP BY obj, pred"""


def kg_two_hop_oracle_sql() -> str:
    """Two-hop ancestor oracle: the narrower_than edge set self-joined
    (grandchild -> parent -> grandparent), distinct."""
    return f"""WITH RECURSIVE {_onto_ctes()},
triples AS MATERIALIZED ({_triples_select()}),
nt AS (SELECT subj, obj FROM triples WHERE pred = 'narrower_than')
SELECT DISTINCT a.subj AS descendant, a.obj AS mid, b.obj AS ancestor
FROM nt a JOIN nt b ON a.obj = b.subj"""


def kg_ancestor_closure_oracle_sql(max_depth: int = 25) -> str:
    """Transitive ancestor-closure oracle: recursive CTE over the
    narrower_than edges with min-hop depth. UNION (not UNION ALL)
    deduplicates (descendant, ancestor, depth) rows per round; the
    depth cap mirrors operators/components.py:ancestor_closure exactly,
    so both engines agree even on non-DAG input. ``nt`` is MATERIALIZED
    — DuckDB 1.0 inlines CTEs, and an inlined CTE referenced from
    inside a recursive member re-evaluates every recursion round."""
    return f"""WITH RECURSIVE {_onto_ctes()},
triples AS MATERIALIZED ({_triples_select()}),
nt AS MATERIALIZED (
  SELECT subj, obj FROM triples WHERE pred = 'narrower_than'
),
closure(descendant, ancestor, depth) AS (
  SELECT subj, obj, 1 FROM nt
  UNION
  SELECT c.descendant, nt.obj, c.depth + 1
  FROM closure c JOIN nt ON c.ancestor = nt.subj
  WHERE c.depth < {max_depth}
)
SELECT descendant, ancestor, CAST(min(depth) AS BIGINT) AS depth
FROM closure GROUP BY descendant, ancestor"""


def kg_pagerank_oracle_sql(iters: int = 3) -> str:
    """Integer PageRank oracle: the same fixed-k power iteration the
    Spark query runs, unrolled as CTEs. Integer-only arithmetic
    (micro-units, nonnegative operands) makes DuckDB `//` and Spark
    `div` identical, so the match is exact, not rounded."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""c{k} AS (
  SELECT dst AS entity, sum(pr // outdeg) AS contrib
  FROM nt JOIN {prev} ON nt.src = {prev}.entity
  JOIN outdeg USING (src) GROUP BY dst
),
pr{k} AS MATERIALIZED (
  SELECT nodes.entity,
         150000 // (SELECT n FROM nn)
           + (85 * coalesce(contrib, 0)) // 100 AS pr
  FROM nodes LEFT JOIN c{k} USING (entity)
)"""
        )
        prev = f"pr{k}"
    chain = ",\n".join(steps)
    return f"""WITH RECURSIVE {_onto_ctes()},
triples AS MATERIALIZED ({_triples_select()}),
nt AS MATERIALIZED (
  SELECT DISTINCT subj AS src, obj AS dst FROM triples
  WHERE pred = 'narrower_than'
),
nodes AS MATERIALIZED (
  -- explicit DISTINCT: under WITH RECURSIVE, DuckDB 1.0 runs this
  -- UNION without dedup (observed: 292 rows from 144 distinct)
  SELECT DISTINCT entity FROM (
    SELECT src AS entity FROM nt UNION ALL SELECT dst FROM nt
  )
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outdeg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM nt GROUP BY src
),
pr0 AS (
  SELECT entity, 1000000 // (SELECT n FROM nn) AS pr FROM nodes
),
{chain}
SELECT entity, CAST(pr AS BIGINT) AS pr FROM {prev}"""


def kg_path_coverage_oracle_sql(threshold: int = 50) -> str:
    """Corpus-scale D1 oracle: per-doc path coverage over the full
    pipeline ontology (operators/analyzer.py:doc_path_coverage).
    Float order matters: coverage = ceil((m / path_len) * 100) — the
    same IEEE expression order as Python's math.ceil((m/len)*100)."""
    bot = _q(BOT_NAME)
    lem = _noun_lemma_sql("tk")
    return f"""WITH RECURSIVE {_onto_ctes()},
cov_el0 AS MATERIALIZED (
  SELECT doc_id, unnest(list_filter(terms, x -> x <> {bot})) AS el,
         0 AS is_tag
  FROM onto
  UNION ALL
  SELECT doc_id, unnest(tags), 1 FROM onto
),
cov_el_toks AS MATERIALIZED (
  SELECT doc_id, el, is_tag,
         unnest(generate_series(1, len(string_split(s, ' ')))) AS p,
         unnest(string_split(s, ' ')) AS tk
  FROM (SELECT doc_id, el, is_tag, {_treebank_sql("el")} AS s FROM cov_el0)
),
cov_el_lem AS MATERIALIZED (
  SELECT doc_id, el, is_tag,
         coalesce(string_agg({lem}, ' ' ORDER BY p), '') AS lel
  FROM cov_el_toks WHERE tk <> ''
  GROUP BY doc_id, el, is_tag
),
-- total_path = names (unfiltered) ∪ tags (''/' ' dropped post-lemma)
cov_set AS MATERIALIZED (
  SELECT DISTINCT doc_id, lel FROM cov_el_lem
  WHERE is_tag = 0 OR lel NOT IN ('', ' ')
),
plen AS MATERIALIZED (
  SELECT doc_id, count(*) AS path_len,
         sum(CASE WHEN lel <> '' THEN 1 ELSE 0 END) AS content_cnt
  FROM cov_set GROUP BY doc_id
),
-- question grams: unigrams (= the lemmatized match-doc tokens) + 2/3/4
cov_grams AS MATERIALIZED (
  SELECT doc_id, nlem AS gram FROM ctoks
  UNION
  SELECT a.doc_id, a.nlem || ' ' || b.nlem
  FROM ctoks a JOIN ctoks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  UNION
  SELECT a.doc_id, a.nlem || ' ' || b.nlem || ' ' || c.nlem
  FROM ctoks a
  JOIN ctoks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN ctoks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  UNION
  SELECT a.doc_id, a.nlem || ' ' || b.nlem || ' ' || c.nlem || ' ' || d.nlem
  FROM ctoks a
  JOIN ctoks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN ctoks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  JOIN ctoks d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
),
cov_matched AS MATERIALIZED (
  SELECT s.doc_id, count(*) AS m
  FROM cov_set s JOIN cov_grams g
    ON g.doc_id = s.doc_id AND g.gram = s.lel
  WHERE s.lel <> ''
  GROUP BY s.doc_id
)
SELECT o.doc_id,
       CASE WHEN p.content_cnt IS NULL OR p.content_cnt = 0 THEN 100
            ELSE CAST(ceil((CAST(coalesce(m.m, 0) AS DOUBLE)
                            / p.path_len) * 100) AS BIGINT) END
         AS coverage_pct,
       CASE WHEN p.content_cnt IS NULL OR p.content_cnt = 0 THEN 0
            WHEN CAST(ceil((CAST(coalesce(m.m, 0) AS DOUBLE)
                            / p.path_len) * 100) AS BIGINT)
                 < {threshold} THEN 1 ELSE 0 END AS flagged
FROM (SELECT DISTINCT doc_id FROM onto) o
LEFT JOIN plen p USING (doc_id)
LEFT JOIN cov_matched m ON m.doc_id = o.doc_id"""


def kg_docs_at_root_oracle_sql() -> str:
    """Corpus-scale D2 oracle: docs whose final ontology row is bare
    root with no tags (ontology_analyzer.py:144-158). Runs over the
    corpus UNION the deterministic DOCS_AT_ROOT_SEEDS so the gate's
    expected output is non-empty at every sf (VERDICT r4 #4)."""
    bot = _q(BOT_NAME)
    return f"""WITH RECURSIVE {_onto_ctes(seeded_documents_sql())}
SELECT doc_id FROM onto
WHERE len(terms) = 1 AND terms[1] = {bot} AND len(tags) = 0"""


def kg_ontology_oracle_sql() -> str:
    """Per-doc ontology rows, arrays flattened with '|' exactly like the
    Spark query's concat_ws."""
    return f"""WITH RECURSIVE {_onto_ctes()}
SELECT doc_id,
       coalesce(array_to_string(terms, '|'), '') AS terms_str,
       coalesce(array_to_string(tags, '|'), '') AS tags_str
FROM onto"""
