"""Sequential oracle: literal re-expression of the reference pipeline.

This is the correctness oracle for the Spark engine (the reference repo
ships no tests, SURVEY.md §5.1). It mirrors the reference's control flow
1:1 — Counters, full-dictionary scans, remove-first-occurrence loops —
while sharing the leaf text functions (normalize / lemmatize / chunker)
with the Spark engine, so golden tests verify that the DISTRIBUTED
re-expression (set-semantics joins, token-prefiltered matching, DataFrame
optimiser passes) is equivalent to the reference's sequential semantics.

Control-flow citations:
  find_all_phrases  /root/reference/strategy/phrase_finder.py:16-45
  generate_graph    /root/reference/strategy/NGramStrategy.py:49-113
  optimise_graph    /root/reference/graph_optmiser/Optmiser.py:8-62
  triples           SURVEY.md Appendix A.10
"""

from __future__ import annotations

import re
from collections import Counter

from knowledgegraphgenerator_spark.config import BOT_NAME, MASK_TOKEN
from knowledgegraphgenerator_spark.config import (
    PHRASES_FREQ_THRESHOLD,
    UNIGRAM_FREQ_THRESHOLD,
)
from knowledgegraphgenerator_spark.core.extraction import extract_features
from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma
from knowledgegraphgenerator_spark.core.matching import single_word_tag
from knowledgegraphgenerator_spark.core.textnorm import normalize_text, tokenize


def find_all_phrases(normalized_questions, stop_tokens):
    """-> (phrases Counter, unigram Counter, verb Counter) with thresholds
    and the equal-count substring dedup applied, in most_common order."""
    all_tokens, uni_tokens, all_verbs = [], [], []
    for q in normalized_questions:
        p, u, v = extract_features(q, stop_tokens)
        all_tokens.extend(p)
        uni_tokens.extend(u)
        all_verbs.extend(v)
    phrase_counter = Counter(all_tokens)
    unigram_counter = Counter(uni_tokens)
    verb_counter = Counter(all_verbs)

    phrases = [
        [t, c]
        for t, c in phrase_counter.most_common()
        if c > PHRASES_FREQ_THRESHOLD
    ]
    unis = [
        [t, c]
        for t, c in unigram_counter.most_common()
        if c > UNIGRAM_FREQ_THRESHOLD
    ]
    return (
        Counter({t: c for t, c in dedup_equal_count(phrases)}),
        Counter({t: c for t, c in unis}),
        verb_counter,
    )


def dedup_equal_count(phrases):
    """[[term, cnt], ...] -> the kept pairs, in order: the literal
    remove-first-occurrence loop (phrase_finder.py:35-44)."""
    kept = [list(x) for x in phrases]
    for phrase, cnt in phrases:
        for sub, sub_cnt in phrases:
            if sub != phrase:
                try:
                    if sub in phrase and sub_cnt == cnt:
                        kept.remove([sub, sub_cnt])
                except ValueError:
                    pass
    return kept


def _filter_substrings(terms):
    """Literal copy-and-remove loop (NGramStrategy.py:21-33)."""
    out = list(terms)
    for a in terms:
        for b in terms:
            try:
                if a.strip() != b.strip() and b.strip() in a.strip():
                    out.remove(b)
            except ValueError:
                pass
    return out


def generate_graph(question_map, stop_tokens):
    """question_map: {qid: (raw_question, normalized_question)} →
    {qid: {'question', 'terms', 'tags'}} (NGramStrategy.py:49-113)."""
    phrases, unis, verbs = find_all_phrases(
        [norm for _, norm in question_map.values()], stop_tokens
    )
    merged = dict()
    merged.update(phrases.most_common())
    merged.update(unis.most_common())
    merged.update(verbs.most_common())

    result = {}
    for qid, (raw, norm) in question_map.items():
        # tokenize = whitespace + Treebank CONTRACTIONS2/3 splits, matching
        # nltk.word_tokenize on \w-only text (cannot -> can not, ...)
        doc = " ".join(noun_lemma(t) for t in tokenize(norm))
        terms, tag = [], ""
        for term, cnt in phrases.most_common():
            if cnt == 1:
                break
            if term in stop_tokens:
                continue
            try:
                regex = re.compile("\\b" + term + "\\b")
                if re.findall(regex, doc) and cnt > 1:
                    doc = re.sub(regex, MASK_TOKEN, doc)
                    terms.append(term)
            except re.error:
                pass
        for term, cnt in unis.most_common():
            if cnt == 1:
                break
            if term in stop_tokens:
                continue
            try:
                regex = re.compile("\\b" + term + "\\b")
                if re.findall(regex, doc):
                    doc = re.sub(regex, MASK_TOKEN, doc)
                    terms.append(term)
            except re.error:
                pass
        for term, cnt in verbs.most_common():
            if cnt == 1:
                break
            try:
                regex = re.compile("\\b" + term + "\\b")
                if re.findall(regex, doc):
                    tag = term
            except re.error:
                pass
        if not (terms or tag):
            tag = single_word_tag(raw, stop_tokens)
        terms = sorted(_filter_substrings(terms), key=lambda x: merged[x])
        terms = terms + [BOT_NAME]
        result[qid] = {
            "question": raw,
            "terms": terms,
            "tags": [tag] if tag else [],
        }
    return result


def optimise_graph(tag_term_map, primary_ids, node_level=1, max_ques=2):
    """G1 + G2 (Optmiser.py:8-62); mutates and returns tag_term_map."""

    def path_map():
        paths = {}
        for qid in primary_ids:
            path = tuple(reversed(tag_term_map[qid]["terms"]))
            paths.setdefault(path, []).append(qid)
        return paths

    paths = path_map()
    for path in paths:
        demote = []
        current = path[:-1]
        while len(current) > 1:
            if not paths.get(current, []):
                demote.append(current[-1])
            current = current[:-1]
        if demote:
            for qid in paths[path]:
                obj = tag_term_map[qid]
                keep = [t for t in obj["terms"] if t not in demote]
                moved = [t for t in obj["terms"] if t in demote]
                obj["terms"] = keep
                obj["tags"] = obj["tags"] + moved

    paths = path_map()
    for path, qids in paths.items():
        if len(path) == node_level + 1 and len(qids) < max_ques:
            for qid in qids:
                obj = tag_term_map[qid]
                qna_terms = list(reversed(obj["terms"]))
                removed = qna_terms[node_level:]
                obj["terms"] = qna_terms[:node_level][::-1]
                obj["tags"] = obj["tags"] + removed
    return tag_term_map


def derive_triples(tag_term_map, synonyms=None, altq=None):
    """SURVEY.md Appendix A.10 — distinct (subj, pred, obj) set."""
    triples = set()
    for obj in tag_term_map.values():
        q = obj["question"]
        for term in obj["terms"]:
            if term != BOT_NAME:
                triples.add((q, "has_term", term))
        for tag in obj["tags"]:
            triples.add((q, "has_tag", tag))
        path = list(reversed(obj["terms"]))
        for parent, child in zip(path, path[1:]):
            triples.add((child, "narrower_than", parent))
    for term, syns in (synonyms or {}).items():
        for syn in syns:
            triples.add((term, "has_synonym", syn))
    for alt_q, primary_q in (altq or []):
        triples.add((alt_q, "alternate_of", primary_q))
    return triples


def create_response(question_map, altq_map, tag_term_map, answers=None,
                    sub_answers=None, response_types=None, synonyms=None):
    """Literal mirror of JSONGenerator.create_response
    (/root/reference/response_type/JSONGenerator.py:26-72).
    question_map: {qid: (raw, norm)}; altq_map: {primary_id: [alt_id..]}."""
    answers = answers or {}
    sub_answers = sub_answers or {}
    response_types = response_types or {}
    response = {"faqs": [], "synonyms": synonyms or {}}
    for qid in altq_map:
        result = {
            "question": question_map[qid][0],
            "alternateQuestions": [],
            "terms": tag_term_map[qid]["terms"],
            "tags": tag_term_map[qid]["tags"],
            "refId": "",
            "responseType": response_types.get(qid),
            "answer": [],
            "alternateAnswers": [],
        }
        for ans in answers.get(qid, []):
            result["answer"].append(
                {"text": ans.get("text", "test"), "type": ans.get("type"),
                 "channel": ans.get("channel")}
            )
        for alt_id in altq_map.get(qid, []):
            alt_tags = list(
                set(tag_term_map[alt_id]["terms"]).difference(
                    set(result["terms"])
                )
            )
            result["alternateQuestions"].append(
                {
                    "question": question_map[alt_id][0],
                    "tags": tag_term_map[alt_id]["tags"] + alt_tags,
                    "terms": result["terms"],
                }
            )
        for alt_answer in sub_answers.get(qid, []):
            result["alternateAnswers"].append(
                [
                    {"text": a.get("text", "test"), "type": a.get("type"),
                     "channel": a.get("channel")}
                    for a in alt_answer
                ]
            )
        if (result.get("responseType") or "message") == "dialog":
            result["dialogRefId"] = ""
        response["faqs"].append(result)
    return response


def run_reference_faq(question_map, altq_map, stop_tokens):
    """FAQ flow: extract+link ALL questions, optimise primaries only.
    question_map: {qid: (raw, norm)}; altq_map: {primary: [alts]}."""
    ttm = generate_graph(question_map, stop_tokens)
    ttm = optimise_graph(ttm, list(altq_map.keys()))
    return ttm


def run_reference_pipeline(raw_questions, stop_tokens, lang="en"):
    """Full sequential pipeline on raw question strings (ids 10001.. as in
    the reference parsers, /root/reference/request_type/CSVParser.py:40).
    Every question is a primary. -> (tag_term_map, triples set)."""
    question_map = {
        10001 + i: (q, normalize_text(q, lang))
        for i, q in enumerate(raw_questions)
    }
    ttm = generate_graph(question_map, stop_tokens)
    ttm = optimise_graph(ttm, list(question_map.keys()))
    return ttm, derive_triples(ttm)
