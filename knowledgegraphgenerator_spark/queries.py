"""Driver-verifiable query suite: one entry per operator family.

Each ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame`` and (except the
rows-only KG-pipeline entries) has a matching ANSI-SQL oracle in
``ORACLES[name]`` that DuckDB runs on the same parquet tables. Every
computed column is aliased identically on both sides, and every value is
integer/string (or rounded once, identically) so the order-insensitive
value-hash comparison is deterministic across engines.

Coverage map to SURVEY.md §2 (reference file:line cited per query):
  scans S1-S7        parquet scans everywhere; column pruning via select
  A1/A2              term_count_threshold, bigram_count, trigram_count
  A3                 substring_dedup
  A5                 dict_merge_priority
  A4/O1-O3           doc_terms_ranked (window top-k ordering)
  G3/A.10            path_edges
  J5/G1              path_prefix_antijoin
  dedup (rebuild)    dedup_exact, minhash_signatures, lsh_candidate_pairs,
                     jaccard_pairs
  text analysis      lang_id_heuristic, quality_score,
                     doc_length_quantiles (exact type-7 percentiles),
                     dup_ngram_fraction (cross-doc duplicated-span
                     diagnostic, integer per-mille)
  hierarchy stats    term_cooccurrence, salted_term_stats
  crawl cycle        canonical_urls, latest_crawl (recrawl collapse),
                     crawl_delta (snapshot diff), benchmark_overlap
                     (decontamination)
  crawl dedup        neardup_pairs_scale (xxhash minhash → 16x1 LSH →
                     exact verify; decision-level brute-force oracle),
                     dedup_chain, incremental_neardup — the production
                     operators of operators/dedup.py
  KG pipeline        kg_triples, kg_triples_blocked, kg_triples_auto,
                     kg_ontology, doc_path_coverage, docs_at_root — FULL
                     DuckDB oracles (oracles_kg.py: the whole pipeline
                     incl. recursive-CTE masked matching and the G1/G2
                     optimiser in SQL), value-hash gated at sf0.01
  KG consumption     kg_entity_degree ((obj, pred) degree stats),
                     kg_two_hop (narrower_than self-join traversal),
                     kg_ancestor_closure (transitive closure),
                     kg_pagerank (integer-arithmetic fixed-k power
                     iteration, bit-exact cross-engine) — all gated by
                     the pipeline oracle chain extended with the same
                     aggregation/join/iteration in SQL
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- helpers

DOC_STOPWORDS = ("the", "a")
VERBISH = ("scan", "sort", "merge", "join", "filter", "group", "stream",
           "hash")
MINHASH_A = (7, 11, 13, 17, 19, 23, 29, 31)
MINHASH_B = (3, 5, 7, 11, 13, 17, 19, 23)
MINHASH_P = 2147483647


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(spark, sf_dir):
    """(doc_id, pos, term) — posexploded whitespace tokens."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term"))
        .where(F.col("term") != "")
    )


_TOKENS_SQL = (
    "SELECT * FROM ("
    "SELECT doc_id, unnest(generate_series(1, len(string_split(text,' ')))) AS pos,"
    " unnest(string_split(text,' ')) AS term FROM documents"
    ") WHERE term <> ''"
)


def _unigram_dict(spark, sf_dir):
    """Unigram dictionary: cnt > 5 (strict >, common.py:19)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 5)
    )


_UNIGRAM_SQL = (
    f"SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM ({_TOKENS_SQL}) "
    "GROUP BY term HAVING count(*) > 5"
)


def _bigrams(spark, sf_dir):
    """(doc_id, bigram) in document order (N6 SQL n-grams,
    phrase_finder.py:78-79 re-expressed without a UDF)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
                    " (x, i) -> concat(x, ' ', toks[i+1]))"
                )
            ).alias("bigram"),
        )
    )


_BIGRAMS_SQL = (
    "SELECT doc_id, unnest(list_transform("
    "list_zip(s[1:len(s)-1], s[2:]), x -> x[1] || ' ' || x[2])) AS bigram "
    "FROM (SELECT doc_id, string_split(text,' ') AS s FROM documents) "
    "WHERE len(s) >= 2"
)


def _bigram_dict(spark, sf_dir):
    return (
        _bigrams(spark, sf_dir)
        .groupBy(F.col("bigram").alias("term"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 2)
    )


_BIGRAM_DICT_SQL = (
    f"SELECT bigram AS term, CAST(count(*) AS BIGINT) AS cnt "
    f"FROM ({_BIGRAMS_SQL}) GROUP BY bigram HAVING count(*) > 2"
)


def _shingles(spark, sf_dir):
    """Distinct (doc_id, shingle) token 3-gram shingles.

    Persisted (r6): five queries derive from this exact plan
    (jaccard_pairs, trigram_count, dup_ngram_fraction, and the
    dense-id minhash family via _shingle_ids) and the distinct is a
    full shuffle of the exploded shingle set — Spark's cache manager
    dedups by canonicalized plan, so all of them share ONE entry and
    only the first action pays the materialization (the same pattern
    the r5 neardup chain queries already used).

    Distinctness is per document, so it rides ``array_distinct`` on
    the in-row shingle array — zero shuffle — instead of a row-level
    ``.distinct()`` Exchange (r6, same change as
    operators/dedup.token_shingles)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(slice(toks, 1, greatest(size(toks)-2, 0)),"
                        " (x, i) -> concat(x, ' ', toks[i+1], ' ', toks[i+2]))"
                    )
                )
            ).alias("shingle"),
        )
        .persist()
    )


_SHINGLES_SQL = (
    "SELECT DISTINCT doc_id, unnest(list_transform("
    "list_zip(s[1:len(s)-2], s[2:len(s)-1], s[3:]),"
    " x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle "
    "FROM (SELECT doc_id, string_split(text,' ') AS s FROM documents) "
    "WHERE len(s) >= 3"
)


def _shingle_ids(spark, sf_dir):
    """(doc_id, sid) — dense shingle ids, row_number over sorted shingles.

    Dense ids make every downstream hash pure integer arithmetic that
    DuckDB reproduces bit-for-bit (cross-engine hash functions differ).
    At web scale the dictionary window would be replaced by
    ``xxhash64(shingle)`` — oracle parity is why ids are used here.
    """
    sh = _shingles(spark, sf_dir)
    ids = (
        sh.select("shingle")
        .distinct()
        .withColumn(
            "sid",
            F.row_number().over(Window.orderBy("shingle")).cast("long"),
        )
    )
    return sh.join(ids, "shingle").select("doc_id", "sid")


_SHINGLE_IDS_SQL = (
    f"WITH sh AS ({_SHINGLES_SQL}), "
    "ids AS (SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT)"
    " AS sid FROM (SELECT DISTINCT shingle FROM sh)) "
    "SELECT sh.doc_id, ids.sid FROM sh JOIN ids USING (shingle)"
)


def _minhash_wide(spark, sf_dir):
    """(doc_id, mh0..mh7) — 8 permutation minhashes over shingle ids in
    ONE hash aggregate (guide §2.3): the 8 minima are 8 ``min`` agg
    expressions over one pass instead of an 8-way crossJoin row
    explosion + (doc_id, j) shuffle. Values identical to the historical
    long form (same ``(a*sid + b) % P`` maps)."""
    ids = _shingle_ids(spark, sf_dir)
    return ids.groupBy("doc_id").agg(
        *[
            F.min(
                (
                    F.lit(MINHASH_A[j]).cast("long") * F.col("sid")
                    + F.lit(MINHASH_B[j]).cast("long")
                )
                % MINHASH_P
            ).alias(f"mh{j}")
            for j in range(8)
        ]
    )


def _minhash(spark, sf_dir):
    """(doc_id, j, mh) — narrow posexplode of :func:`_minhash_wide`."""
    return _minhash_wide(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"mh{j}") for j in range(8)])
        ).alias("j", "mh"),
    )


_MINHASH_PARAMS_SQL = ", ".join(
    f"({j}, {MINHASH_A[j]}, {MINHASH_B[j]})" for j in range(8)
)
_MINHASH_SQL = (
    f"WITH sids AS ({_SHINGLE_IDS_SQL}), "
    f"params(j, a, b) AS (VALUES {_MINHASH_PARAMS_SQL}) "
    f"SELECT doc_id, j, min((a * sid + b) % {MINHASH_P}) AS mh "
    "FROM sids CROSS JOIN params GROUP BY doc_id, j"
)


# ---------------------------------------------------------------- queries


def q_term_count_threshold(spark, sf_dir):
    """A1/A2: corpus term counting + strict-> threshold
    (/root/reference/strategy/phrase_finder.py:21-34)."""
    return _unigram_dict(spark, sf_dir)


def q_bigram_count(spark, sf_dir):
    """N6+A1: SQL n-grams + counting (phrase_finder.py:61-65,78-79)."""
    return _bigram_dict(spark, sf_dir)


def q_trigram_count(spark, sf_dir):
    """N6 trigrams (phrase_finder.py:61)."""
    return (
        _shingles(spark, sf_dir)  # distinct per doc
        .groupBy(F.col("shingle").alias("term"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 2)
    )


def q_substring_dedup(spark, sf_dir):
    """A3: equal-count substring dedup (phrase_finder.py:35-44) — the
    production operator, so the oracle gates what the pipeline runs."""
    from knowledgegraphgenerator_spark.operators.phrases import (
        dedup_equal_count_phrases,
    )

    return dedup_equal_count_phrases(_bigram_dict(spark, sf_dir))


def q_dict_merge_priority(spark, sf_dir):
    """A5: dict.update overwrite merge — verbs over unigrams over phrases
    (NGramStrategy.py:52-55) as full-outer coalesce."""
    big = _bigram_dict(spark, sf_dir).select("term", F.col("cnt").alias("b_cnt"))
    uni = _unigram_dict(spark, sf_dir).select("term", F.col("cnt").alias("u_cnt"))
    verb = (
        _tokens(spark, sf_dir)
        .where(F.col("term").isin(*VERBISH))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("v_cnt"))
        .where(F.col("v_cnt") >= 2)
    )
    return (
        big.join(uni, "term", "full")
        .join(verb, "term", "full")
        .select(
            "term",
            F.coalesce("v_cnt", "u_cnt", "b_cnt").alias("merged_cnt"),
        )
    )


def _ranked(spark, sf_dir):
    """(doc_id, term, cnt, rnk): per-doc dictionary terms ranked ascending
    by corpus count (O1 — rarest first = deepest, NGramStrategy.py:105).

    Persisted (r6): path_edges references this frame four times in one
    plan (parent/child self-join + root extraction) and three queries
    (doc_terms_ranked, path_edges, path_prefix_antijoin) share the
    exact plan — one cache entry serves them all, same discipline as
    _shingles."""
    toks = _tokens(spark, sf_dir).select("doc_id", "term").distinct()
    u = _unigram_dict(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.asc("cnt"), F.asc("term"))
    return (
        toks.join(u, "term")
        .select(
            "doc_id", "term", "cnt",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .persist()
    )


_RANKED_SQL = (
    f"WITH toks AS (SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL})), "
    f"u AS ({_UNIGRAM_SQL}) "
    "SELECT doc_id, term, cnt, CAST(row_number() OVER "
    "(PARTITION BY doc_id ORDER BY cnt ASC, term ASC) AS BIGINT) AS rnk "
    "FROM toks JOIN u USING (term)"
)


def q_doc_terms_ranked(spark, sf_dir):
    """O1/A4: per-doc term ordering by corpus frequency (window ranking)."""
    return _ranked(spark, sf_dir)


def q_path_edges(spark, sf_dir):
    """G3/A.10: root→leaf adjacency from per-doc ranked term paths
    (root = most frequent; ontology_analyzer.py:74-111 re-expressed)."""
    r = _ranked(spark, sf_dir)
    n = r.groupBy("doc_id").agg(F.max("rnk").alias("n"))
    parent = r.select("doc_id", F.col("term").alias("parent"),
                      F.col("rnk").alias("prnk"))
    child = r.select("doc_id", F.col("term").alias("child"),
                     F.col("rnk").alias("crnk"))
    inner = (
        parent.join(child, "doc_id")
        .where(F.col("prnk") == F.col("crnk") + 1)  # parent = next-more-frequent
        .select("parent", "child")
    )
    roots = (
        r.join(n, "doc_id")
        .where(F.col("rnk") == F.col("n"))  # most frequent term
        .select(F.lit("Auto Ontology").alias("parent"),
                F.col("term").alias("child"))
    )
    return inner.unionByName(roots).distinct()


def q_path_prefix_antijoin(spark, sf_dir):
    """J5/G1: paths whose parent prefix has no documents — the demotion
    anti-join (Optmiser.py:30-42)."""
    r = _ranked(spark, sf_dir)
    paths = (
        r.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(-cnt AS nc,"
                " term))), x -> x.term)"
            ).alias("path")
        )
        .select(F.concat_ws("/", "path").alias("path_str"),
                F.col("path"))
        .distinct()
    )
    with_prefix = paths.where(F.size("path") >= 2).select(
        "path_str",
        F.concat_ws("/", F.slice("path", 1, F.size("path") - 1)).alias("prefix_str"),
        F.element_at("path", -1).alias("demoted"),
    )
    return (
        with_prefix.join(
            paths.select(F.col("path_str").alias("prefix_str")),
            "prefix_str",
            "left_anti",
        ).select("path_str", "demoted")
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep min id."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 perms) over token-3-gram shingles."""
    return _minhash(spark, sf_dir)


def q_lsh_candidate_pairs(spark, sf_dir):
    """LSH banding (4 bands x 2 rows) → candidate near-dup pairs.

    r6 shape: bands derive NARROWLY from the wide minhash row (the r5
    even/odd split + self-join recomputed the minhash chain — and its
    global shingle-id window — four times per action), and the band
    self-join is replaced by groupBy(band, h0, h1) + in-bucket pair
    expansion (guide §2.4). Output pairs identical."""
    wide = _minhash_wide(spark, sf_dir)
    bands = wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.col(f"mh{2 * b}").alias("h0"),
                        F.col(f"mh{2 * b + 1}").alias("h1"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.h0", "e.h1")
    buckets = bands.groupBy("band", "h0", "h1").agg(
        F.collect_list("doc_id").alias("ids")
    )
    from knowledgegraphgenerator_spark.operators.dedup import (
        in_bucket_pair_expr,
    )

    pair_expr = in_bucket_pair_expr("doc_a", "doc_b")
    return (
        buckets.where(F.size("ids") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs, all-integer (>= 0.8 as 10*i >= 8*u).

    r6 shape (output identical): the shingle self-join is replaced by
    groupBy(shingle) + in-bucket pair expansion (one shuffle of the
    shingle set instead of two + the join), the shingle frame is
    persisted (it fed three derivations), and generated pair rows are
    prefiltered by the SOUND size-compatibility bound
    ``10 * min(na, nb) >= 8 * max(na, nb)`` (inter <= min, union >=
    max, so incompatible pairs cannot pass the final threshold) via a
    broadcast of the per-doc size table BEFORE the pair-count shuffle
    (guide §2.3 / §3.2)."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    sized = sh.join(sizes, "doc_id").select("doc_id", "shingle", "n")
    from knowledgegraphgenerator_spark.operators.dedup import (
        in_bucket_pair_expr,
    )

    pair_expr = in_bucket_pair_expr(
        "doc_a", "doc_b", elem_id="doc_id", compat=(8, 10)
    )
    inter = (
        sized.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter"))
        .where(F.col("inter") * 10 >= F.col("union_n") * 8)
        .select("doc_a", "doc_b", "inter", "union_n")
    )


def q_neardup_pairs_scale(spark, sf_dir):
    """The REAL near-dup operator chain at scale shape (VERDICT r1 #6):
    xxhash64-based MinHash (operators/dedup.py) → 16 one-row LSH bands →
    integer-exact Jaccard verify (>= 0.8). The OUTPUT is hash-function
    independent — verify is exact and banding recall at J >= 0.8 is
    1-(1-J)^16 >= 1-2.6e-12 per pair — so the brute-force DuckDB oracle
    gates the whole chain value-for-value even though the minhash values
    themselves are engine-specific."""
    from knowledgegraphgenerator_spark.operators.dedup import (
        lsh_candidate_pairs_from_wide,
        minhash_wide,
        token_shingles,
        verify_jaccard,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = token_shingles(docs, "text", "doc_id", n=3).persist()
    wide = minhash_wide(sh, "doc_id", k=16)
    # rows_per_band=1: recall-max banding; bucket guard off because the
    # oracle needs exact recall (the guard is a scale safety valve for
    # adversarial hot buckets, tested separately). compat only drops
    # pairs the 8/10 verify must reject (sound bound) inside the
    # expansion lambda, before the candidate distinct.
    pairs = lsh_candidate_pairs_from_wide(
        wide, "doc_id", rows_per_band=1, k=16, max_bucket=None,
        compat=(8, 10),
    )
    # the production verify (crawl_dedup's). NOT persisted: this frame
    # IS the query's result — caching it would make a second timed run a
    # no-op.
    return verify_jaccard(pairs, sh, "doc_id", 8, 10)


def q_dedup_chain(spark, sf_dir):
    """The full crawl-order dedup chain as ONE operator: exact hash
    dedup, then MinHash near-dedup over the survivors
    (operators/dedup.py:crawl_dedup — the ordering is structural; see
    its docstring for the measured 10^6-doc evidence). Recall-max
    banding + guard off so the brute-force DuckDB oracle gates the
    chain's kept-set value-for-value (same gating argument as
    neardup_pairs_scale: verify is exact, band recall at J >= 0.8 is
    1-(1-J)^16 per pair). Every other parameter is the production
    default."""
    from knowledgegraphgenerator_spark.operators.dedup import crawl_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return crawl_dedup(
        docs, "text", "doc_id", rows_per_band=1, max_bucket=None
    )


def q_incremental_neardup(spark, sf_dir):
    """Incremental dedup: the daily-ingest shape — near-dup pairs of a
    NEW batch (doc_id % 4 == 0) against the EXISTING corpus (the rest).
    Both sides are built as the ingest stream's signature store builds
    them (operators/dedup.py:batch_signature_parts), then joined by the
    store's admission core (incremental_neardup_pairs_from_parts):
    new×new and old×old pairs never materialize. Bucket guard off so
    the brute-force oracle gates exact recall (1-(1-J)^16 at J >= 0.8)."""
    from knowledgegraphgenerator_spark.operators.dedup import (
        batch_signature_parts,
        incremental_neardup_pairs_from_parts,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh_new, band_new = batch_signature_parts(
        docs.where(F.col("doc_id") % 4 == 0), "text", "doc_id"
    )
    sh_old, band_old = batch_signature_parts(
        docs.where(F.col("doc_id") % 4 != 0), "text", "doc_id"
    )
    return incremental_neardup_pairs_from_parts(
        sh_new, band_new, sh_old, band_old, "doc_id", max_bucket=None
    )


def q_dup_ngram_fraction(spark, sf_dir):
    """Cross-doc duplicated-span diagnostic (RefinedWeb/Gopher-style
    'fraction of the document covered by n-grams seen elsewhere'): for
    each doc, its distinct 3-gram shingle count, how many of those
    shingles occur in >= 2 docs, and the integer per-mille dup fraction.
    The document frequency rides a count-over-window partitioned by
    shingle instead of a groupBy + join-back: ONE pass over the shingle
    set and 2 exchanges total (shingle window, doc agg) vs 5 for the
    join form, because the join form derives the exploded shingle frame
    twice. No all-pairs work, so it scales where pairwise Jaccard
    cannot; integer division keeps the oracle float-free."""
    sh = _shingles(spark, sf_dir)
    return (
        sh.withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("shingle")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long").alias("n_dup"),
        )
        .withColumn(
            "dup_permille",
            F.expr("(n_dup * 1000) div n_shingles").cast("long"),
        )
    )


def q_lang_id_heuristic(spark, sf_dir):
    """Stop-word-ratio language gate (rebuild text-analysis op)."""
    toks = _tokens(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.col("term").isin(*DOC_STOPWORDS), 1).otherwise(0)
        ).alias("hits"),
    )
    return agg.select(
        "doc_id", "hits", "n_tokens",
        F.when(F.col("hits") * 10 >= F.col("n_tokens"), F.lit("en_like"))
        .otherwise(F.lit("other")).alias("pred"),
    )


def q_quality_score(spark, sf_dir):
    """Length/stopword/diversity quality scoring, all-integer."""
    toks = _tokens(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
        F.sum(
            F.when(F.col("term").isin(*DOC_STOPWORDS), 1).otherwise(0)
        ).alias("n_stop"),
        F.sum(F.length("term")).alias("sum_len"),
    )
    return agg.select(
        "doc_id", "n_tokens",
        F.expr("sum_len * 100 div n_tokens").alias("mean_len_x100"),
        F.expr("n_distinct * 1000 div n_tokens").alias("distinct_x1000"),
        F.expr("n_stop * 1000 div n_tokens").alias("stop_x1000"),
        F.when(
            (F.col("n_tokens") >= 20)
            & (F.expr("n_stop * 1000 div n_tokens") < 300)
            & (F.expr("n_distinct * 1000 div n_tokens") >= 200),
            F.lit("keep"),
        ).otherwise(F.lit("drop")).alias("verdict"),
    )


def q_canonical_urls(spark, sf_dir):
    """Curation: URL canonicalization over deterministically synthesized
    crawl URLs (the documents table carries no URL column — both sides
    build the same mixed-case/ported/tracked URLs from doc_id/source/
    lang, covering every normalization branch)."""
    from knowledgegraphgenerator_spark.operators.curation import (
        canonical_urls,
    )

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.col("source"),
                F.lit(".Example.COM:443/"), F.col("lang"),
                F.lit("/page"), sid, F.lit("?utm_source=feed&b=2&a=1"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://"), F.col("source"),
                F.lit(".shop.co.uk:80/item/"), sid,
                F.lit("?id="), sid, F.lit("&fbclid=xyz"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".org/docs/"),
                sid,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://News."), F.col("source"),
                F.lit(".net/a?z=1&y=2&utm_campaign=x"),
            )
        )
    )
    return canonical_urls(
        d.select("doc_id", url.alias("url"))
    ).select("doc_id", "host", "registered_domain", "canonical_url")


def q_term_cooccurrence(spark, sf_dir):
    """Co-occurrence aggregation for hierarchy statistics (north_star:
    subsumption/co-occurrence aggregation; skew notes in
    operators/skew.py:cooccurrence_counts)."""
    from knowledgegraphgenerator_spark.operators.skew import (
        cooccurrence_counts,
    )

    toks = _tokens(spark, sf_dir).select("doc_id", "term").distinct()
    dict_terms = toks.join(_unigram_dict(spark, sf_dir), "term", "semi")
    return cooccurrence_counts(dict_terms, min_count=5).select(
        "ta", "tb", "cnt"
    )


def q_salted_term_stats(spark, sf_dir):
    """The skew machinery under the driver gate: salted two-phase
    aggregation (operators/skew.py — north_star 'salted groupBy') is
    EXACT for algebraic aggregates, so plain GROUP BY SQL is its oracle.
    Output: per-token corpus count + distinct-doc count for tokens with
    cnt > 50 (the Zipf head — the keys salting exists for)."""
    from knowledgegraphgenerator_spark.operators.skew import salted_two_phase

    toks = _tokens(spark, sf_dir)
    out = salted_two_phase(
        toks.select("term", "doc_id"),
        key_cols=["term"],
        partial_aggs=[
            F.count(F.lit(1)).alias("_n"),
            F.collect_set("doc_id").alias("_docs"),
        ],
        merge_aggs=[
            F.sum("_n").alias("cnt"),
            F.size(F.array_distinct(F.flatten(F.collect_list("_docs"))))
            .cast("long").alias("n_docs"),
        ],
        n_salts=16,
    )
    return out.where(F.col("cnt") > 50).select("term", "cnt", "n_docs")


def q_kg_triples(spark, sf_dir):
    """Flagship: full KG construction over the documents table
    (rows-only driver check; golden-tested in tests/test_pipeline_golden)."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return run_pipeline(docs).triples


def q_kg_triples_blocked(spark, sf_dir):
    """Flagship via the token-block linking fallback (no driver collect,
    no Python broadcast of the dictionary — operators/linking.py:
    link_terms_blocked): must equal kg_triples value-for-value, gated by
    the same full-pipeline DuckDB oracle."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return run_pipeline(docs, linking="blocked").triples


def q_kg_triples_auto(spark, sf_dir):
    """Flagship via linking='auto' with a deliberately tiny
    broadcast_term_limit: the auto probe (pipeline.py — collect
    limit+1 dictionary rows in ONE job) must observe the overflow and
    switch itself to the token-block path. This gates the THRESHOLD
    SWITCH end-to-end, not just the two endpoint strategies (VERDICT r2
    'Next round' #2): the result must still equal kg_triples
    value-for-value under the same full-pipeline DuckDB oracle."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return run_pipeline(
        docs, linking="auto", broadcast_term_limit=8
    ).triples


def q_doc_path_coverage(spark, sf_dir):
    """Corpus-scale D1 diagnostics (analyzer.doc_path_coverage) over the
    full pipeline ontology — removes the 'analyzer is fenced to
    config-scale exports' caveat (VERDICT r1 'What's wrong' #4): the
    coverage check runs as one Arrow pass over the corpus ontology and
    is value-hash gated by the full-pipeline oracle chain."""
    from knowledgegraphgenerator_spark.operators.analyzer import (
        doc_path_coverage,
    )
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    onto = run_pipeline(docs).ontology
    return doc_path_coverage(onto)


def q_docs_at_root(spark, sf_dir):
    """Corpus-scale D2 (ontology_analyzer.py:144-158): documents
    attached directly to the synthetic root with no tags — pure
    DataFrame filter over the pipeline ontology, gated by the
    full-pipeline oracle chain. The corpus is unioned with the
    deterministic pure-stopword DOCS_AT_ROOT_SEEDS (mirrored as VALUES
    in the DuckDB oracle) so the gate's expected output is non-empty —
    at sf0.01 the synthetic docs all match some dictionary term and
    the row was trivially green on 0-vs-0 rows (VERDICT r4 #4)."""
    from knowledgegraphgenerator_spark.config import BOT_NAME
    from knowledgegraphgenerator_spark.oracles_kg import DOCS_AT_ROOT_SEEDS
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    seeds = spark.createDataFrame(
        DOCS_AT_ROOT_SEEDS, "doc_id long, text string, lang string"
    )
    onto = run_pipeline(docs.unionByName(seeds)).ontology
    return onto.where(
        (F.size("terms") == 1)
        & (F.element_at("terms", 1) == BOT_NAME)
        & (F.size("tags") == 0)
    ).select("doc_id")


def q_kg_ontology(spark, sf_dir):
    """KG ontology rows (terms/tags per doc), arrays flattened to strings
    for a stable driver-side schema (rows-only check)."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    onto = run_pipeline(docs).ontology
    return onto.select(
        "doc_id",
        F.concat_ws("|", "terms").alias("terms_str"),
        F.concat_ws("|", "tags").alias("tags_str"),
    )


def q_kg_entity_degree(spark, sf_dir):
    """KG consumer query #1: per (object entity, predicate) fact count +
    distinct-subject count over the full-pipeline triple set — the
    degree distribution a KG consumer checks first. One shuffle on
    (obj, pred) after the pipeline; gated by the full-pipeline DuckDB
    oracle chain extended with the same aggregation
    (oracles_kg.kg_entity_degree_oracle_sql)."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    trip = run_pipeline(docs).triples
    return trip.groupBy(F.col("obj").alias("entity"), "pred").agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.countDistinct("subj").alias("n_subjects"),
    )


def q_kg_two_hop(spark, sf_dir):
    """KG consumer query #2: two-hop ancestor traversal — the
    narrower_than edge set self-joined on the shared mid node
    (grandchild → parent → grandparent), distinct. It runs off the
    in-memory pipeline output and is gated by the full-pipeline oracle +
    the same self-join in SQL."""
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    nt = (
        run_pipeline(docs)
        .triples.where(F.col("pred") == "narrower_than")
        .select("subj", "obj")
    )
    a = nt.select(F.col("subj").alias("descendant"), F.col("obj").alias("mid"))
    b = nt.select(F.col("subj").alias("mid"), F.col("obj").alias("ancestor"))
    return (
        a.join(b, "mid")
        .select("descendant", "mid", "ancestor")
        .distinct()
    )


def q_kg_ancestor_closure(spark, sf_dir):
    """KG consumer query: FULL transitive ancestor closure of the
    narrower_than hierarchy with min-hop depth — the generalization of
    kg_two_hop to arbitrary depth (reference twin: the per-node anytree
    parent walk, analyzer/ontology_analyzer.py:175-188). Iterative
    frontier BFS with per-round localCheckpoint
    (operators/components.py:ancestor_closure); oracled by a recursive
    CTE with the identical depth cap."""
    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    nt = (
        run_pipeline(docs)
        .triples.where(F.col("pred") == "narrower_than")
        .select("subj", "obj")
    )
    return ancestor_closure(nt)


def q_doc_length_quantiles(spark, sf_dir):
    """Corpus length-distribution check (the first gate a training-data
    pipeline runs before fixing token budgets): per-language doc count +
    exact interpolated p50/p90/p99 of document length. Spark
    ``percentile`` and DuckDB ``quantile_cont`` both implement the
    type-7 interpolated quantile, so the values agree to float
    round-off; rounded once to 4dp on both sides. Exact percentile is a
    full sort per group — at 100 TB swap in approx_percentile (t-digest)
    and drop the oracle to a tolerance check; the GROUPED exact form
    here shuffles only (lang, n_chars) pairs, not documents."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9D)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99D)"), 4).alias("p99"),
    )


def q_kg_pagerank(spark, sf_dir):
    """KG consumer query #3: entity importance by PageRank over the
    narrower_than graph (child → parent, so mass accumulates at
    ancestors), 3 power iterations. All arithmetic is INTEGER
    (micro-units, total mass 10^6; teleport 0.15; dangling mass
    dropped): both engines use only nonnegative integer div, so the
    DuckDB oracle (the same 3 iterations unrolled as CTEs) matches
    bit-for-bit — no float-summation-order hazard. Algorithm lives in
    operators/components.integer_pagerank; each iteration is one
    equi-join + one aggregation, localCheckpointed so lineage stays
    bounded at 100 TB node counts."""
    from knowledgegraphgenerator_spark.operators.components import (
        integer_pagerank,
    )
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    nt = (
        run_pipeline(docs)
        .triples.where(F.col("pred") == "narrower_than")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    return integer_pagerank(nt)


def q_benchmark_overlap(spark, sf_dir):
    """Eval-benchmark decontamination gate: the 'benchmark suite' is a
    deterministic carve-out of the corpus itself — the distinct 3-gram
    shingles of every document with pmod(doc_id, 37) == 0 (~2.7% of
    docs, so the carved docs self-report ~full contamination and their
    near-duplicates report partial overlap — discriminating output at
    every sf). Operator: curation.benchmark_overlap — broadcast
    membership probe, one pass over the shingle set, single Exchange
    (the per-doc agg). Oracle mirrors the carve-out and the integer
    per-mille arithmetic exactly."""
    from knowledgegraphgenerator_spark.operators.curation import (
        benchmark_overlap,
    )

    sh = _shingles(spark, sf_dir)
    bench = sh.where(F.pmod(F.col("doc_id"), F.lit(37)) == 0).select(
        "shingle"
    )
    return benchmark_overlap(sh, bench, threshold_permille=200)


def q_latest_crawl(spark, sf_dir):
    """Recrawl collapse: three crawl snapshots of each page (doc_id div
    3 = the page; the three variants differ only in case, default port,
    leading www, and tracking params) canonicalize to ONE url, and
    latest_snapshot_per_url keeps the newest warc_ts, ties by min
    doc_id. Exercises the canonical_urls -> snapshot-selection chain a
    Common-Crawl corpus runs before any dedup; the oracle constructs
    the known canonical form directly (canonicalization itself is gated
    by the canonical_urls query) and mirrors the keep rule as a window.
    Timestamps are a deterministic MINSTD scramble mod 1009, so ~1/1009
    of snapshot pairs genuinely tie and the id tie-break is exercised.
    Scale shape: ONE combinable max-over-struct groupBy(url) — a hot
    clone-farm URL collapses map-side (operator docstring,
    operators/curation.py:latest_snapshot_per_url)."""
    from knowledgegraphgenerator_spark.operators.curation import (
        canonical_urls,
        latest_snapshot_per_url,
    )

    d = _t(spark, sf_dir, "documents")
    gid = F.expr("CAST(doc_id div 3 AS STRING)")
    # host derives from the PAGE id (doc_id div 3), not the per-doc
    # source column, so the three snapshots of a page genuinely share a
    # canonical url and the collapse is non-trivial (~n/3 output rows)
    site = F.expr("CAST((doc_id div 3) % 7 AS STRING)")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Site"), site,
                F.lit(".Example.COM/p/"), gid,
                F.lit("?utm_source=crawl"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://site"), site,
                F.lit(".example.com:443/p/"), gid,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.site"), site,
                F.lit(".example.com/p/"), gid, F.lit("?fbclid=zz"),
            )
        )
    )
    snaps = canonical_urls(
        d.select(
            "doc_id",
            "lang",
            url.alias("url"),
            (
                F.lit(1700000000)
                + F.pmod(
                    F.pmod(F.col("doc_id"), F.lit(1_000_000_007))
                    * F.lit(48271),
                    F.lit(1009),
                )
            ).cast("long").alias("warc_ts_s"),
        )
    )
    return latest_snapshot_per_url(
        snaps.select("canonical_url", "warc_ts_s", "doc_id", "lang"),
        url_col="canonical_url",
        ts_col="warc_ts_s",
        id_col="doc_id",
        payload_cols=("lang",),
    )


def q_crawl_delta(spark, sf_dir):
    """Incremental-crawl snapshot diff: two crawl cycles synthesized
    from the documents table (cycle boundaries and the changed-content
    marker are deterministic doc_id residues, mirrored verbatim in the
    oracle), diffed by md5 content hash into
    added/removed/changed/unchanged. doc_id % 5 == 4 pages exist only
    in the old crawl (removed), % 5 == 0 only in the new (added),
    % 3 == 0 survivors get ' v2' appended (changed). Exercises every
    status branch at every sf. Scale shape: one full-outer equi-join on
    the unique page key (operators/curation.py:crawl_delta)."""
    from knowledgegraphgenerator_spark.operators.curation import (
        crawl_delta,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.where(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("page_id"),
        F.md5("text").alias("content_hash"),
    )
    new = d.where(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("page_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("content_hash"),
    )
    return crawl_delta(old, new, "page_id", "content_hash")


# Registry ORDER is deliberate: the driver gate reports the FIRST 50
# registry entries, and with 35 entries every query is inside that
# window. The head carries the queries most likely to change and the
# tail holds long-green ones. The FULL registry — all entries,
# count-asserted — is certified by scripts/full_gate.py.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "crawl_delta": q_crawl_delta,
    "latest_crawl": q_latest_crawl,
    "benchmark_overlap": q_benchmark_overlap,
    "term_cooccurrence": q_term_cooccurrence,
    "neardup_pairs_scale": q_neardup_pairs_scale,
    "dup_ngram_fraction": q_dup_ngram_fraction,
    "dedup_chain": q_dedup_chain,
    "incremental_neardup": q_incremental_neardup,
    "kg_triples": q_kg_triples,
    "kg_triples_blocked": q_kg_triples_blocked,
    "kg_triples_auto": q_kg_triples_auto,
    "kg_entity_degree": q_kg_entity_degree,
    "kg_two_hop": q_kg_two_hop,
    "kg_ancestor_closure": q_kg_ancestor_closure,
    "kg_pagerank": q_kg_pagerank,
    "docs_at_root": q_docs_at_root,
    "doc_path_coverage": q_doc_path_coverage,
    "doc_length_quantiles": q_doc_length_quantiles,
    "salted_term_stats": q_salted_term_stats,
    "lang_id_heuristic": q_lang_id_heuristic,
    "kg_ontology": q_kg_ontology,
    "trigram_count": q_trigram_count,
    "dict_merge_priority": q_dict_merge_priority,
    "canonical_urls": q_canonical_urls,
    "quality_score": q_quality_score,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_signatures": q_minhash_signatures,
    "path_prefix_antijoin": q_path_prefix_antijoin,
    "term_count_threshold": q_term_count_threshold,
    "bigram_count": q_bigram_count,
    "substring_dedup": q_substring_dedup,
    "doc_terms_ranked": q_doc_terms_ranked,
    "path_edges": q_path_edges,
}


ORACLES: dict[str, str] = {
    "term_count_threshold": _UNIGRAM_SQL,
    "bigram_count": _BIGRAM_DICT_SQL,
    "trigram_count": (
        f"SELECT shingle AS term, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM ({_SHINGLES_SQL}) GROUP BY shingle HAVING count(*) > 2"
    ),
    "substring_dedup": (
        f"WITH b AS ({_BIGRAM_DICT_SQL}) "
        "SELECT term, cnt FROM b x WHERE NOT EXISTS ("
        "SELECT 1 FROM b o WHERE o.cnt = x.cnt AND o.term <> x.term"
        " AND position(x.term IN o.term) > 0)"
    ),
    "dict_merge_priority": (
        f"WITH big AS ({_BIGRAM_DICT_SQL}), uni AS ({_UNIGRAM_SQL}), "
        f"verb AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM ({_TOKENS_SQL}) WHERE term IN "
        f"{VERBISH!r} GROUP BY term HAVING count(*) >= 2) "
        "SELECT coalesce(verb.term, uni.term, big.term) AS term, "
        "coalesce(verb.cnt, uni.cnt, big.cnt) AS merged_cnt "
        "FROM big FULL OUTER JOIN uni ON big.term = uni.term "
        "FULL OUTER JOIN verb ON coalesce(uni.term, big.term) = verb.term"
    ),
    "doc_terms_ranked": _RANKED_SQL,
    "path_edges": (
        f"WITH r AS ({_RANKED_SQL}), "
        "n AS (SELECT doc_id, max(rnk) AS n FROM r GROUP BY doc_id), "
        "inner_e AS (SELECT DISTINCT p.term AS parent, c.term AS child "
        "FROM r p JOIN r c ON p.doc_id = c.doc_id AND p.rnk = c.rnk + 1), "
        "roots AS (SELECT DISTINCT 'Auto Ontology' AS parent, r.term AS child "
        "FROM r JOIN n ON r.doc_id = n.doc_id AND r.rnk = n.n) "
        "SELECT * FROM (SELECT * FROM inner_e UNION SELECT * FROM roots)"
    ),
    "path_prefix_antijoin": (
        f"WITH r AS ({_RANKED_SQL}), "
        "paths AS (SELECT DISTINCT "
        "array_to_string(list(term ORDER BY cnt DESC, term ASC), '/') AS path_str, "
        "list(term ORDER BY cnt DESC, term ASC) AS path "
        "FROM r GROUP BY doc_id), "
        "p2 AS (SELECT DISTINCT path_str, "
        "array_to_string(path[1:len(path)-1], '/') AS prefix_str, "
        "path[len(path)] AS demoted FROM paths WHERE len(path) >= 2) "
        "SELECT path_str, demoted FROM p2 WHERE prefix_str NOT IN "
        "(SELECT path_str FROM paths)"
    ),
    "dedup_exact": (
        "SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies "
        "FROM documents GROUP BY text"
    ),
    "minhash_signatures": _MINHASH_SQL,
    "lsh_candidate_pairs": (
        f"WITH mh AS ({_MINHASH_SQL}), "
        "sigs AS (SELECT e.doc_id, CAST(e.j / 2 AS INT) AS band,"
        " e.mh AS h0, o.mh AS h1 "
        "FROM mh e JOIN mh o ON e.doc_id = o.doc_id AND o.j = e.j + 1 "
        "WHERE e.j % 2 = 0) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM sigs a JOIN sigs b ON a.band = b.band AND a.h0 = b.h0"
        " AND a.h1 = b.h1 WHERE a.doc_id < b.doc_id"
    ),
    "jaccard_pairs": (
        f"WITH sh AS ({_SHINGLES_SQL}), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh"
        " GROUP BY doc_id), "
        "ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        " CAST(count(*) AS BIGINT) AS inter "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id) "
        "SELECT doc_a, doc_b, inter, na.n + nb.n - inter AS union_n "
        "FROM ix JOIN sizes na ON ix.doc_a = na.doc_id "
        "JOIN sizes nb ON ix.doc_b = nb.doc_id "
        "WHERE inter * 10 >= (na.n + nb.n - inter) * 8"
    ),
    # brute-force exact-Jaccard oracle for the xxhash-minhash+LSH+verify
    # chain: output equality holds because verify is integer-exact and
    # 16x1 banding recall at J>=0.8 is 1-(1-J)^16 (see q_neardup_pairs_scale)
    "neardup_pairs_scale": (
        f"WITH sh AS ({_SHINGLES_SQL}), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh"
        " GROUP BY doc_id), "
        "ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " CAST(count(*) AS BIGINT) AS inter "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id) "
        "SELECT id_a, id_b, inter, na.n + nb.n - inter AS union_n "
        "FROM ix JOIN sizes na ON ix.id_a = na.doc_id "
        "JOIN sizes nb ON ix.id_b = nb.doc_id "
        "WHERE inter * 10 >= (na.n + nb.n - inter) * 8"
    ),
    "dedup_chain": (
        # exact dedup (keep min id per text), then brute-force Jaccard
        # near-dedup among the survivors; drop every id_b of a verified
        # pair (id_a < id_b) — the same star-drop rule as the operator
        "WITH uniq AS MATERIALIZED ("
        " SELECT min(doc_id) AS doc_id, text FROM documents"
        " GROUP BY text), "
        "toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM uniq), "
        "sh AS MATERIALIZED ("
        " SELECT DISTINCT doc_id, unnest(list_transform("
        " list_zip(s[1:len(s)-2], s[2:len(s)-1], s[3:]),"
        " x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle"
        " FROM toks WHERE len(s) >= 3), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh"
        " GROUP BY doc_id), "
        "ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " CAST(count(*) AS BIGINT) AS inter"
        " FROM sh a JOIN sh b ON a.shingle = b.shingle"
        " AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "drp AS (SELECT DISTINCT id_b FROM ix"
        " JOIN sizes na ON ix.id_a = na.doc_id"
        " JOIN sizes nb ON ix.id_b = nb.doc_id"
        " WHERE inter * 10 >= (na.n + nb.n - inter) * 8) "
        "SELECT u.doc_id, u.text FROM uniq u"
        " LEFT JOIN drp d ON u.doc_id = d.id_b WHERE d.id_b IS NULL"
    ),
    "incremental_neardup": (
        f"WITH sh AS ({_SHINGLES_SQL}), "
        "shn AS (SELECT * FROM sh WHERE doc_id % 4 = 0), "
        "sho AS (SELECT * FROM sh WHERE doc_id % 4 <> 0), "
        "sn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shn"
        " GROUP BY 1), "
        "so AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sho"
        " GROUP BY 1), "
        "ix AS (SELECT a.doc_id AS id_new, b.doc_id AS id_old,"
        " CAST(count(*) AS BIGINT) AS inter FROM shn a"
        " JOIN sho b ON a.shingle = b.shingle GROUP BY 1, 2) "
        "SELECT id_new, id_old, inter, sn.n + so.n - inter AS union_n"
        " FROM ix JOIN sn ON ix.id_new = sn.doc_id"
        " JOIN so ON ix.id_old = so.doc_id"
        " WHERE inter * 10 >= (sn.n + so.n - inter) * 8"
    ),
    "lang_id_heuristic": (
        f"WITH toks AS ({_TOKENS_SQL}), "
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        f"CAST(sum(CASE WHEN term IN {DOC_STOPWORDS!r} THEN 1 ELSE 0 END)"
        " AS BIGINT) AS hits FROM toks GROUP BY doc_id) "
        "SELECT doc_id, hits, n_tokens, CASE WHEN hits * 10 >= n_tokens"
        " THEN 'en_like' ELSE 'other' END AS pred FROM agg"
    ),
    "canonical_urls": (
        "WITH urls AS (SELECT doc_id, CASE"
        " WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' || source ||"
        " '.Example.COM:443/' || lang || '/page' ||"
        " CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1'"
        " WHEN doc_id % 4 = 1 THEN 'http://' || source ||"
        " '.shop.co.uk:80/item/' || CAST(doc_id AS VARCHAR) || '?id=' ||"
        " CAST(doc_id AS VARCHAR) || '&fbclid=xyz'"
        " WHEN doc_id % 4 = 2 THEN 'https://' || source || '.org/docs/'"
        " || CAST(doc_id AS VARCHAR)"
        " ELSE 'https://News.' || source ||"
        " '.net/a?z=1&y=2&utm_campaign=x' END AS url FROM documents), "
        "parts AS (SELECT doc_id,"
        " lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
        " AS scheme,"
        " lower(regexp_extract(url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,"
        " regexp_extract(url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,"
        " regexp_extract(url, '\\?([^#]*)', 1) AS rawq FROM urls), "
        "hosts AS (SELECT doc_id, scheme, rawpath, rawq,"
        " regexp_replace(CASE"
        " WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')"
        " WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')"
        " ELSE hostport END,"
        " '^www\\.', '') AS host FROM parts), "
        "comp AS (SELECT doc_id, scheme, rawpath, host,"
        " string_split(host, '.') AS labs,"
        " coalesce(array_to_string(list_sort(list_filter("
        "string_split(rawq, '&'), p -> p <> '' AND NOT regexp_matches(p,"
        " '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))), '&'), '') AS cq"
        " FROM hosts) "
        "SELECT doc_id, host,"
        " CASE WHEN len(labs) >= 3 AND labs[-2] IN"
        " ('co','com','net','org','gov','ac','edu')"
        " THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]"
        " WHEN len(labs) >= 2 THEN labs[-2] || '.' || labs[-1]"
        " ELSE host END AS registered_domain,"
        " scheme || '://' || host ||"
        " (CASE WHEN rawpath = '' THEN '/' ELSE rawpath END) ||"
        " (CASE WHEN cq = '' THEN '' ELSE '?' || cq END)"
        " AS canonical_url FROM comp"
    ),
    "quality_score": (
        f"WITH toks AS ({_TOKENS_SQL}), "
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(count(DISTINCT term) AS BIGINT) AS n_distinct, "
        f"CAST(sum(CASE WHEN term IN {DOC_STOPWORDS!r} THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_stop, "
        "CAST(sum(length(term)) AS BIGINT) AS sum_len FROM toks"
        " GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, sum_len * 100 // n_tokens AS mean_len_x100, "
        "n_distinct * 1000 // n_tokens AS distinct_x1000, "
        "n_stop * 1000 // n_tokens AS stop_x1000, "
        "CASE WHEN n_tokens >= 20 AND n_stop * 1000 // n_tokens < 300 AND "
        "n_distinct * 1000 // n_tokens >= 200 THEN 'keep' ELSE 'drop' END"
        " AS verdict FROM agg"
    ),
    "salted_term_stats": (
        f"SELECT term, CAST(count(*) AS BIGINT) AS cnt, "
        f"CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
        f"FROM ({_TOKENS_SQL}) GROUP BY term HAVING count(*) > 50"
    ),
    "term_cooccurrence": (
        f"WITH toks AS (SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL})), "
        f"u AS ({_UNIGRAM_SQL}), "
        "dt AS (SELECT doc_id, term FROM toks WHERE term IN"
        " (SELECT term FROM u)) "
        "SELECT a.term AS ta, b.term AS tb, CAST(count(*) AS BIGINT) AS cnt "
        "FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term "
        "GROUP BY a.term, b.term HAVING count(*) >= 5"
    ),
}

# kg_triples / kg_ontology: the FULL pipeline (normalize → chunker →
# dictionary → greedy masked matching → optimiser → triples) expressed in
# DuckDB SQL, generated from the same pinned spec tables the engine uses —
# rows-only in round 1, three-check gated from round 2 (oracles_kg.py).
from knowledgegraphgenerator_spark.oracles_kg import (  # noqa: E402
    kg_ancestor_closure_oracle_sql,
    kg_docs_at_root_oracle_sql,
    kg_entity_degree_oracle_sql,
    kg_ontology_oracle_sql,
    kg_pagerank_oracle_sql,
    kg_path_coverage_oracle_sql,
    kg_triples_oracle_sql,
    kg_two_hop_oracle_sql,
)
ORACLES["kg_triples"] = kg_triples_oracle_sql()
ORACLES["kg_triples_blocked"] = kg_triples_oracle_sql()
ORACLES["kg_triples_auto"] = kg_triples_oracle_sql()
ORACLES["kg_ontology"] = kg_ontology_oracle_sql()
ORACLES["kg_entity_degree"] = kg_entity_degree_oracle_sql()
ORACLES["kg_two_hop"] = kg_two_hop_oracle_sql()
ORACLES["kg_ancestor_closure"] = kg_ancestor_closure_oracle_sql()
ORACLES["kg_pagerank"] = kg_pagerank_oracle_sql()
# decontamination: benchmark = shingles of docs with pmod(doc_id,37)=0,
# mirrored here with DuckDB's sign-preserving % wrapped to pmod
ORACLES["benchmark_overlap"] = (
    f"WITH sh AS ({_SHINGLES_SQL}), "
    "bench AS (SELECT DISTINCT shingle FROM sh"
    " WHERE ((doc_id % 37) + 37) % 37 = 0), "
    "m AS (SELECT s.doc_id,"
    " CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END AS hit"
    " FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,"
    " CAST(sum(hit) AS BIGINT) AS n_hit,"
    " CAST(sum(hit) * 1000 // count(*) AS BIGINT)"
    " AS contaminated_permille,"
    " CASE WHEN sum(hit) * 1000 // count(*) >= 200 THEN 'drop'"
    " ELSE 'keep' END AS verdict"
    " FROM m GROUP BY doc_id"
)
ORACLES["doc_path_coverage"] = kg_path_coverage_oracle_sql()
ORACLES["docs_at_root"] = kg_docs_at_root_oracle_sql()

# Recrawl collapse: the oracle constructs the known canonical form of
# the three synthesized snapshot variants directly (canonicalization is
# separately gated by canonical_urls) and mirrors newest-ts-min-id as a
# window over the same MINSTD-scrambled timestamps.
ORACLES["latest_crawl"] = (
    "WITH t AS (SELECT doc_id, lang,"
    " 'https://site' || CAST((doc_id // 3) % 7 AS VARCHAR) ||"
    " '.example.com/p/' ||"
    " CAST(doc_id // 3 AS VARCHAR) AS canonical_url,"
    " 1700000000 + ((((doc_id % 1000000007) + 1000000007) % 1000000007)"
    " * 48271) % 1009 AS warc_ts_s"
    " FROM documents) "
    "SELECT canonical_url, CAST(warc_ts_s AS BIGINT) AS warc_ts_s,"
    " CAST(doc_id AS BIGINT) AS doc_id, lang,"
    " CAST(n_snapshots AS BIGINT) AS n_snapshots FROM ("
    "SELECT *,"
    " row_number() OVER (PARTITION BY canonical_url"
    " ORDER BY warc_ts_s DESC, doc_id ASC) AS rn,"
    " count(*) OVER (PARTITION BY canonical_url) AS n_snapshots FROM t"
    ") WHERE rn = 1"
)

# Incremental-crawl snapshot diff: same residue-defined cycles and
# changed-content marker, same md5, FULL OUTER JOIN + CASE.
ORACLES["crawl_delta"] = (
    "WITH o AS (SELECT doc_id AS page_id, md5(text) AS old_hash"
    " FROM documents WHERE doc_id % 5 <> 0), "
    "n AS (SELECT doc_id AS page_id,"
    " md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END)"
    " AS new_hash FROM documents WHERE doc_id % 5 <> 4) "
    "SELECT coalesce(o.page_id, n.page_id) AS page_id,"
    " CASE WHEN o.page_id IS NULL THEN 'added'"
    " WHEN n.page_id IS NULL THEN 'removed'"
    " WHEN o.old_hash IS DISTINCT FROM n.new_hash THEN 'changed'"
    " ELSE 'unchanged' END AS status,"
    " o.old_hash, n.new_hash"
    " FROM o FULL OUTER JOIN n ON o.page_id = n.page_id"
)

# Type-7 interpolated quantile in both engines (Spark `percentile`,
# DuckDB `quantile_cont`); one round(4) on each side absorbs float
# round-off between the two interpolation implementations.
ORACLES["doc_length_quantiles"] = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "round(quantile_cont(n_chars, 0.5), 4) AS p50, "
    "round(quantile_cont(n_chars, 0.9), 4) AS p90, "
    "round(quantile_cont(n_chars, 0.99), 4) AS p99 "
    "FROM documents GROUP BY lang"
)

ORACLES["dup_ngram_fraction"] = (
    f"WITH sh AS MATERIALIZED ({_SHINGLES_SQL}), "
    "dfc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh"
    " GROUP BY shingle) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
    "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, "
    "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000"
    " // count(*) AS BIGINT) AS dup_permille "
    "FROM sh JOIN dfc USING (shingle) GROUP BY doc_id"
)
