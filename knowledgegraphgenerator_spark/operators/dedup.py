"""Deduplication operators for the crawl loop.

All pure DataFrame ops (JVM-side, no Python in the hot path):

  * exact_dedup          hash-groupBy on content, keep min-id row
  * token_shingles       token n-gram shingles via slice-transform SQL
  * minhash_wide         k independent xxhash64 minima in one row per doc
  * lsh_candidate_pairs_from_wide
                         narrow banding → bucket groupBy → in-bucket pairs
  * verify_jaccard       integer-exact Jaccard verify on candidates
  * crawl_dedup          exact dedup, then the MinHash-LSH → verify →
                         keep-min chain over the survivors
  * batch_signature_parts / incremental_neardup_pairs_from_parts /
    admit_batch_against_store
                         drop a new batch's near duplicates of the admitted
                         corpus, read from the stored sketches

One function per step: the oracle-gated queries (queries.py) call these
same functions, changing only the parameters that give exact recall
(``rows_per_band=1``, ``max_bucket=None``).

Scale notes (the reason this layout): shingling+minhash are narrow maps;
the only shuffles are the signature groupBy and the band join. The band
join's value is bounding the candidate space — the O(n²) pair join never
materializes; bucket skew (a hot band) is handled by AQE skew-join plus
the optional ``max_bucket`` guard that drops degenerate buckets (a bucket
with B docs contributes B² pairs; dropping buckets larger than the guard
only loses pairs that other, more selective bands almost surely recover).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_P = 2147483647  # Mersenne prime 2^31-1: a*h+b stays < 2^63 (ANSI)

# Identifies the MinHash permutation family; bands/sketches persisted by
# a DIFFERENT family are not comparable (their sigs never collide with
# this family's) and matching them silently admits every near-duplicate.
# The streaming signature store stamps this into a marker file and
# refuses to serve a store written under another family.
SIGNATURE_FAMILY = "xxhash64-seeded-v2"


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row id per distinct content value (P12 dropDuplicates with
    deterministic keep-min, /root/reference/synonym_generator/
    synonym_generator.py:33-39)."""
    keep = df.groupBy(content_col).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [content_col, id_col], "semi")


def token_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) token n-grams — pure SQL, no UDF.

    Distinctness is PER DOCUMENT (the id is part of every key), so it
    is computed with ``array_distinct`` on the in-row shingle array
    before the explode — zero shuffle (r6; the old row-level
    ``.distinct()`` paid a full Exchange of the exploded shingle set:
    ~2.6M rows at sf1.0, 33M at the 10^6-doc big point, for rows that
    never needed to leave their input partition).

    PRECONDITION (r6, inherited from every in-repo call site): ``df``
    has at most ONE row per ``id_col``. With duplicate-id rows the old
    global distinct also collapsed duplicates ACROSS rows; this form
    would emit them twice, inflating downstream set sizes. Corpora here
    always carry unique doc ids (and ``exact_dedup`` output is unique
    per (content, id)); a caller with repeated ids must pre-collapse
    them."""
    return (
        df.select(F.col(id_col), F.split(text_col, r"\s+").alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(slice(toks, 1,"
                        f" greatest(size(toks)-{n-1}, 0)),"
                        f" (x, i) -> concat_ws(' ', slice(toks, i+1, {n})))"
                    )
                )
            ).alias("shingle"),
        )
    )


def minhash_wide(
    shingles: DataFrame, id_col: str, k: int = 16
) -> DataFrame:
    """(id, mh0..mh{k-1}): all k permutation minima in ONE hash
    aggregate (guide §2.3 'aggregate before you shuffle') — k ``min``
    agg expressions over one pass instead of the r5 k-way crossJoin
    row explosion + second banding shuffle.

    Permutation j is ``pmod(xxhash64(shingle, j), P)`` — k INDEPENDENT
    hash functions (the seed column makes xxhash64 a different
    function per j). The r5 family was the affine ``(2j+3)*h +
    104729*(j+1) mod P`` over ONE shared base hash, whose k minima are
    CORRELATED: a single shingle whose base hash is tiny wins every
    permutation (a_j <= 33, b_j <= 1.7M, so any other shingle needs
    h' < ~h + 5e5 to compete), and a near-identical doc pair differing
    only in that shingle shares ZERO bands. Found at sf0.1: the pair
    (3062, 3354) with Jaccard 18/19 was invisible to all 16 one-row
    bands, so the chain queries missed one oracle pair — the
    documented ``1 - (1-J)^k`` banding recall requires independent
    permutations, which this family now actually provides (miss
    probability at J >= 0.8, k=16: (1-J)^16 <= 2.6e-12 per pair;
    verified against the brute-force oracle at sf0.01 AND sf0.1).
    Sketches persisted by a previous version's family are NOT
    comparable to this one — rebuild signature stores on upgrade.

    The per-doc shingle count ``n`` rides the same aggregate for free —
    chain operators use it to reject size-incompatible pairs inside the
    bucket-expansion lambda with zero extra passes."""
    return shingles.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(
                    F.xxhash64("shingle", F.lit(j)), F.lit(MINHASH_P)
                )
            ).alias(f"mh{j}")
            for j in range(k)
        ],
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def _banded_from_wide(
    wide: DataFrame,
    id_col: str,
    rows_per_band: int,
    k: int,
    carry_n: bool = False,
) -> DataFrame:
    """(id, band, sig) derived NARROWLY from the wide signature row —
    no groupBy: the band concat is a per-row expression, so banding
    costs zero Exchanges on top of :func:`minhash_wide`'s single one.
    A band's sig is its minhash values joined by '-' in j order."""
    entries = []
    for b in range(math.ceil(k / rows_per_band)):
        cols = [
            F.col(f"mh{j}")
            for j in range(b * rows_per_band, min(k, (b + 1) * rows_per_band))
        ]
        entries.append(
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws("-", *cols).alias("sig"),
            )
        )
    keep = [id_col] + (["n"] if carry_n else [])
    return wide.select(
        *keep, F.explode(F.array(*entries)).alias("e")
    ).select(
        *keep, F.col("e.band").alias("band"), F.col("e.sig").alias("sig")
    )


def in_bucket_pair_expr(
    out_a: str,
    out_b: str,
    elem_id: str | None = None,
    compat: tuple[int, int] | None = None,
) -> str:
    """SQL for expanding a bucket array ``ids`` into unordered pairs
    (``out_a`` < ``out_b``) — the ONE place the in-bucket expansion
    lambda lives (it is used by candidate generation and two
    oracle-parity queries). ``elem_id=None`` means elements are bare ids;
    otherwise they are structs and ``elem_id`` names the id field (the
    struct then must also carry ``n`` when ``compat=(num, den)`` asks
    for the sound size bound, which filters the raw slice BEFORE any
    struct is built)."""
    x_id = "x" if elem_id is None else f"x.{elem_id}"
    y_id = "y" if elem_id is None else f"y.{elem_id}"
    inner = f"slice(ids, i + 2, size(ids))"
    if compat is not None:
        num, den = compat
        inner = (
            f"filter({inner}, y -> "
            f"least(x.n, y.n) * {den} >= greatest(x.n, y.n) * {num})"
        )
    return (
        "flatten(transform(ids, (x, i) -> "
        f"transform({inner}, y -> "
        f"struct(least({x_id}, {y_id}) as {out_a},"
        f" greatest({x_id}, {y_id}) as {out_b}))))"
    )


def _pairs_from_banded(
    banded: DataFrame,
    id_col: str,
    max_bucket: int | None,
    compat: tuple[int, int] | None = None,
) -> DataFrame:
    """(band, sig) buckets → unordered candidate pairs (id_a < id_b).

    ONE groupBy(band, sig) + a narrow in-bucket pair expansion replaces
    the r5 band SELF-JOIN, which recomputed the whole signature chain
    once per join side and paid two sort-merge Exchanges (guide §2.4
    'two operations keyed the same way can share one exchange'). The
    bucket-size guard is now a filter on the collected list instead of
    a separate count + semi-join pass. A bucket of B docs still yields
    B(B-1)/2 pair rows, exactly as the self-join did — the guard bounds
    B, and collecting B ids is strictly smaller state than the join's
    B² intermediate rows. Note the expansion materializes one bucket's
    pair array inside a single row before the explode — per-task memory
    is O(max_B²) structs, which the guard bounds (max_bucket=1000 →
    ≤ 500k structs ≈ 10 MB); the unguarded max_bucket=None configs
    exist only for the oracle-parity queries, whose measured max bucket
    at the driver scales is ~128 (8k structs). A truly degenerate
    unguarded bucket should use the guard — that is what it is for.

    ``compat=(num, den)`` (requires ``banded`` to carry the per-doc
    shingle count ``n`` — :func:`_banded_from_wide` with
    ``carry_n=True``) rejects generated pairs failing the SOUND
    Jaccard size bound ``den * min(na, nb) >= num * max(na, nb)``
    INSIDE the expansion lambda, on the raw slice BEFORE any struct is
    built — can't-pass pairs cost one integer compare and never become
    rows, let alone enter the output-distinct exchange (sf1.0
    recall-max config: 13.9M -> 4.4M distinct input). Only chain
    operators that immediately verify at (num, den) pass it; the raw
    candidate surface stays complete."""
    if compat is not None:
        num, den = compat
        buckets = banded.groupBy("band", "sig").agg(
            F.collect_list(F.struct(F.col(id_col), F.col("n"))).alias("ids")
        )
        if max_bucket is not None:
            buckets = buckets.where(F.size("ids") <= max_bucket)
        pair_expr = in_bucket_pair_expr(
            "id_a", "id_b", elem_id=id_col, compat=(num, den)
        )
    else:
        buckets = banded.groupBy("band", "sig").agg(
            F.collect_list(F.col(id_col)).alias("ids")
        )
        if max_bucket is not None:
            buckets = buckets.where(F.size("ids") <= max_bucket)
        pair_expr = in_bucket_pair_expr("id_a", "id_b")
    return (
        buckets.where(F.size("ids") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs_from_wide(
    wide: DataFrame,
    id_col: str,
    rows_per_band: int,
    k: int,
    max_bucket: int | None = 1000,
    compat: tuple[int, int] | None = None,
) -> DataFrame:
    """Candidate pairs straight from the WIDE signature row: banding is
    narrow (:func:`_banded_from_wide`), so the whole
    signatures→candidates path is minhash_wide's groupBy(id) + one
    groupBy(band, sig) + the output distinct — 3 Exchanges end to end
    vs ~12 in the r5 self-join form. ``compat`` as in
    :func:`_pairs_from_banded` (the wide row carries ``n``)."""
    banded = _banded_from_wide(
        wide, id_col, rows_per_band, k, carry_n=compat is not None
    )
    return _pairs_from_banded(banded, id_col, max_bucket, compat)


def verify_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    threshold_num: int = 8,
    threshold_den: int = 10,
) -> DataFrame:
    """Integer-exact Jaccard on candidates:
    keep pairs with inter/union >= num/den (no floats).

    r6 shape: each side of a candidate pair joins ONE row carrying that
    document's full (already per-doc-distinct) shingle array plus its
    size, and the intersection is a narrow ``size(array_intersect)``
    per pair — the r5 form exploded every candidate into |sh(a)| rows
    and shuffled them into a (id_b, shingle) join (measured at the
    10^6-doc big point: 2.9M candidates x ~47 shingles ≈ 138M join
    rows, 29 s; the array form joins 2.9M single rows). Candidates are
    also prefiltered by the SOUND size-compatibility bound before the
    intersection is computed — inter <= min(na, nb) and union >=
    max(na, nb), so a pair can only pass if ``den * min(na, nb) >=
    num * max(na, nb)`` (guide §2.3 'shuffle fewer bytes'; §8 'decide
    with small rows'). The explicit ``inter >= 1`` keeps parity with
    the historical inner-join form, which never emitted
    zero-intersection pairs regardless of threshold."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    # size-first: the compat filter runs over 8-byte size columns and
    # prunes the candidate set (sf1.0: 13.9M -> 4.4M) BEFORE any row
    # carries a shingle array through an exchange
    cand = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            F.least("na", "nb") * threshold_den
            >= F.greatest("na", "nb") * threshold_num
        )
    )
    arrs = shingles.groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr")
    )
    sa = arrs.select(F.col(id_col).alias("id_a"), F.col("arr").alias("arr_a"))
    sb = arrs.select(F.col(id_col).alias("id_b"), F.col("arr").alias("arr_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "inter",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter"))
        .where(
            (F.col("inter") >= 1)
            & (
                F.col("inter") * threshold_den
                >= F.col("union_n") * threshold_num
            )
        )
        .select("id_a", "id_b", "inter", "union_n")
    )


def crawl_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 16,
    rows_per_band: int = 2,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_bucket: int | None = 10_000,
    persist: bool = True,
) -> DataFrame:
    """Crawl-order corpus dedup: EXACT hash dedup first, THEN MinHash
    near-dedup over the exact survivors — one operator so the ordering
    cannot be gotten wrong.

    The order is structural, not stylistic (measured, BENCH/BASELINE.md
    round-4 big point): every exact-clone family of size B that reaches
    the LSH stage becomes a B² candidate clique that all verifies at
    Jaccard 1.0 — on a ~94%-exact-clone 10^6-doc corpus the fuzzy-first
    order spilled >60 GB of shuffle and exhausted the disk, while
    exact-first collapsed the corpus 10^6 → 56k in 1.9s and the
    identical fuzzy sweep then ran in ~65s. C4/RefinedWeb pipelines
    hash-dedup before MinHash for exactly this reason; at 10^12 docs
    the wrong order is not slow, it is impossible.

    ``max_bucket`` passes through to the LSH band join (degenerate
    hot-bucket guard); the oracle-gated query disables it for exact
    recall, production keeps it on.

    r6: ``uniq`` (referenced by the shingle path AND the final
    anti-join) and ``sh`` (signature path AND verify) are persisted —
    unpersisted, one action recomputed the exact-dedup groupBy+semi
    three times and the shingle explode twice (the r5 sf1.0 bench paid
    90.2 s here); signatures ride the wide single-shuffle path.
    ``persist=False`` skips the
    internal persists: a long-lived caller invoking this per micro-batch
    (streaming ingest) would otherwise accumulate one never-released
    cache entry per batch, since each batch's plan is new and the cache
    manager cannot dedup them.
    """
    uniq = exact_dedup(df, text_col, id_col)
    if persist:
        uniq = uniq.persist()
    sh = token_shingles(uniq, text_col, id_col, shingle_n)
    if persist:
        sh = sh.persist()
    wide = minhash_wide(sh, id_col, k)
    pairs = lsh_candidate_pairs_from_wide(
        wide, id_col, rows_per_band, k, max_bucket=max_bucket,
        compat=(threshold_num, threshold_den),
    )
    dups = verify_jaccard(pairs, sh, id_col, threshold_num, threshold_den)
    drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return uniq.join(drop, id_col, "anti")


def incremental_neardup_pairs_from_parts(
    sh_new: DataFrame,
    band_new: DataFrame,
    sh_old: DataFrame,
    band_old: DataFrame,
    id_col: str,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus: (id_new,
    id_old, inter, union_n) for every new doc whose shingle Jaccard with
    some old doc is >= num/den.

    This is the daily-ingest shape: the batch is small, the corpus is
    huge, and the work must be proportional to the batch. The band
    equi-join is asymmetric — new bands against old bands only, so
    new×new and old×old pairs never materialize, and with |new| << |old|
    AQE broadcasts the new side. The old side's ``(id, shingle)`` and
    ``(id, band, sig)`` frames are the PERSISTED output of previous
    ingest batches (read straight from parquet), so admit cost never
    re-shingles or re-hashes the accumulated corpus and the corpus text
    itself is never touched. Both sides come from
    :func:`batch_signature_parts` with the same parameters."""
    if max_bucket is not None:
        # hot-bucket guard on the OLD side only (a degenerate old bucket
        # is the scale risk; the batch side is already small)
        ok = (
            band_old.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("bn"))
            .where(F.col("bn") <= max_bucket)
            .select("band", "sig")
        )
        band_old = band_old.join(ok, ["band", "sig"], "semi")
    cand = (
        band_new.select(F.col(id_col).alias("id_new"), "band", "sig")
        .join(
            band_old.select(F.col(id_col).alias("id_old"), "band", "sig"),
            ["band", "sig"],
        )
        .select("id_new", "id_old")
        .distinct()
    )
    # array-intersect verify (r6, same change as verify_jaccard): one
    # doc-set row per pair side + a narrow size(array_intersect)
    # replaces the per-candidate shingle expansion join; the sound
    # size-compatibility bound prunes can't-pass pairs first, and
    # inter >= 1 keeps parity with the historical inner-join form
    sets_new = sh_new.groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr_new"),
        F.count(F.lit(1)).alias("n_new"),
    ).select(
        F.col(id_col).alias("id_new"), "arr_new", "n_new"
    )
    sets_old = sh_old.groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr_old"),
        F.count(F.lit(1)).alias("n_old"),
    ).select(
        F.col(id_col).alias("id_old"), "arr_old", "n_old"
    )
    return (
        cand.join(sets_new, "id_new")
        .join(sets_old, "id_old")
        .where(
            F.least("n_new", "n_old") * threshold_den
            >= F.greatest("n_new", "n_old") * threshold_num
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("arr_new", "arr_old")).cast("long"),
        )
        .withColumn("union_n", F.col("n_new") + F.col("n_old") - F.col("inter"))
        .where(
            (F.col("inter") >= 1)
            & (
                F.col("inter") * threshold_den
                >= F.col("union_n") * threshold_num
            )
        )
        .select("id_new", "id_old", "inter", "union_n")
    )


def batch_signature_parts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 16,
    rows_per_band: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """(shingles, banded signatures) for a batch — the frames the
    streaming ingest PERSISTS per admitted batch so later batches admit
    against stored sketches instead of re-shingling the whole corpus.
    Defaults match :func:`admit_batch_against_store`'s join parameters
    (shingle_n=3, k=16, rows_per_band=1): stored bands are only
    comparable to query bands computed with identical parameters."""
    sh = token_shingles(df, text_col, id_col, shingle_n)
    bands = _banded_from_wide(
        minhash_wide(sh, id_col, k), id_col, rows_per_band, k
    )
    return sh, bands


def admit_batch_against_store(
    new_df: DataFrame,
    sh_old: DataFrame,
    band_old: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 16,
    rows_per_band: int = 1,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """The batch minus anything near-duplicating the admitted corpus,
    whose side is supplied as PERSISTED signature-store frames
    (``(id, shingle)`` / ``(id, band, sig)``, written by
    :func:`batch_signature_parts` with the same parameters) — admit cost
    is proportional to |batch| plus one scan of the (far smaller) sketch
    store, and the corpus text files are never re-read."""
    sh_new, band_new = batch_signature_parts(
        new_df, text_col, id_col, shingle_n, k, rows_per_band
    )
    dup_ids = (
        incremental_neardup_pairs_from_parts(
            sh_new, band_new, sh_old, band_old, id_col,
            threshold_num=threshold_num, threshold_den=threshold_den,
            max_bucket=max_bucket,
        )
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return new_df.join(dup_ids, id_col, "anti")
