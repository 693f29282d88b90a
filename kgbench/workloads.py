"""The benchmark workloads.

A workload writes its seeded corpus, warms the engine up by building a
seeded slice of it (whose triples the sequential reference checks),
then repeats its unit of work — one full ``run_pipeline`` build written
as parquet — until the run's time is used, and finally checks what the
engine wrote. Units run untraced
apart from one Spark job group per unit, which lets the event log split
shuffle bytes by unit.

The traced walk calls each layer's public function on the persisted
output of the previous layer, forces it to materialize inside a span,
and takes the layer's counts after the span has closed. It then offers
the corpus slice to the crawl path as two drops, the second carrying
seeded exact and near clones, so the dedup and streaming layers are
traced on every workload.
"""

from __future__ import annotations

import inspect
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kgbench import check, env, gen
from kgbench.trace import Tracer

BATCH_LAYERS = ("normalize", "features", "dictionary", "linking",
                "hierarchy", "triples")
CRAWL_LAYERS = ("dedup", "streaming.ingest", "streaming.enrich")
LAYERS = BATCH_LAYERS + CRAWL_LAYERS

# Zipf text shape of vocab_kg
VOCAB = 20_000
SENTENCES = 4
# share of the traced crawl's second drop that re-offers a slice page
CLONE_SHARE = 0.2


@dataclass
class Unit:
    """One timed unit of work: a full batch build."""
    sid: str
    wall: float
    docs: int
    ok: bool
    triples: int = 0


@dataclass
class Outcome:
    units: list[Unit] = field(default_factory=list)
    triple_f1: float = 0.0
    correct: bool = False
    digest: tuple[int, int] | None = None  # of the full triple set


def judge(units: list[Unit], digests: dict[str, tuple[int, int]]) -> bool:
    """Fail every unit that wrote no triples or other triples than the
    first unit that wrote any; -> whether all units pass."""
    want = next(iter(digests.values()), None)
    for u in units:
        got = digests.get(u.sid)
        u.ok = u.ok and got is not None and got == want
        if got is not None:
            u.triples = got[0]
    return bool(units) and all(u.ok for u in units)


def _files(path: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(path):
        out.update(os.path.join(d, n) for n in names
                   if n.endswith(".parquet"))
    return out


def _mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in _files(path)) / 1e6


def _count(spark, path: str) -> int:
    return spark.read.parquet(path).count() if _files(path) else 0


def _stops() -> frozenset[str]:
    from knowledgegraphgenerator_spark.core.stopwords import (
        resolve_stop_words,
    )

    return resolve_stop_words("en", None)


def _bot_free(col: str) -> F.Column:
    from knowledgegraphgenerator_spark.config import BOT_NAME

    return F.size(F.filter(col, lambda t: t != F.lit(BOT_NAME)))


def _build(corpus, html: bool, out: str) -> None:
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    res = run_pipeline(corpus, html_col="html" if html else None)
    try:
        res.triples.write.mode("overwrite").parquet(out)
    finally:
        res.close()


# --------------------------------------------------------------- batch


class BatchWorkload:
    """``run_pipeline`` over a seeded corpus, triples written as parquet."""

    html = False

    def __init__(self, spark, run: env.RunDir, seed: int, docs: int,
                 slice_docs: int) -> None:
        self.spark, self.run, self.seed = spark, run, seed
        self.docs, self.slice_docs = docs, slice_docs
        self.corpus = os.path.join(run.path, "corpus")
        self.outputs: dict[str, str] = {}  # unit span id -> triples dir

    def make_corpus(self):
        raise NotImplementedError

    def _corpus(self):
        return self.spark.read.parquet(self.corpus)

    def _slice(self):
        return self._corpus().where(F.col("doc_id") < self.slice_docs)

    def prepare(self) -> None:
        """Generate and write the seeded corpus."""
        self.make_corpus().write.parquet(self.corpus)

    def warm_up(self) -> None:
        """Build the slice: the cold start (Python workers, code
        generation, class loading) is paid here, and the triples are
        kept for the reference check."""
        self.slice_out = self.run.sub("slice")
        _build(self._slice(), self.html, self.slice_out)

    def unit(self, tracer: Tracer, i: int) -> Unit:
        out = os.path.join(self.run.path, f"triples-{i}")
        with tracer.span(f"build-{i}") as s:
            try:
                _build(self._corpus(), self.html, out)
                ok = True
            except Exception:
                print(f"kgbench: build {i} failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                ok = False
        if ok:
            self.outputs[s.sid] = out
        return Unit(s.sid, s.wall, self.docs, ok)

    def check(self, outcome: Outcome) -> None:
        """Every build wrote the same triple multiset (a build that did
        not fails), and the slice's triples match the sequential
        reference exactly."""
        digests = {sid: check.triple_digest(self.spark.read.parquet(out))
                   for sid, out in self.outputs.items()}
        agree = judge(outcome.units, digests)
        outcome.digest = next(iter(digests.values()), None)
        outcome.triple_f1 = check.reference_f1(
            self._slice(), self.spark.read.parquet(self.slice_out),
            self.html)
        outcome.correct = agree and outcome.triple_f1 == 1.0

    def traced(self, tracer: Tracer, outcome: Outcome) -> float:
        """Traced batch walk (returns its wall), then the slice through
        the traced crawl walk, whose check joins the run's verdict."""
        t = time.perf_counter()
        normalized, frames, release = batch_walk(
            tracer, self._corpus(), self.html,
            os.path.join(self.run.path, "walk"))
        wall = time.perf_counter() - t
        pages = normalized.where(F.col("doc_id") < self.slice_docs).select(
            "doc_id", F.col("question").alias("text"), "lang")
        crawl = CrawlState(self.spark, self.run.sub("crawl"), frames)
        crawl_walk(tracer, crawl, pages, self.seed)
        release()
        if not crawl.check():
            outcome.correct = False
        return wall


class WebKG(BatchWorkload):
    html = True

    def make_corpus(self):
        return gen.web_pages(self.spark, self.docs, self.seed)


class VocabKG(BatchWorkload):
    def make_corpus(self):
        return gen.zipf_pages(self.spark, self.docs, self.seed,
                              VOCAB, SENTENCES)


def batch_walk(tracer: Tracer, corpus, html: bool, out: str):
    """The pipeline's layers one by one, each materialized in its span.
    -> (persisted normalized frame, dictionary frames, release)."""
    from knowledgegraphgenerator_spark.operators import hierarchy, phrases
    from knowledgegraphgenerator_spark.operators import triples as tri
    from knowledgegraphgenerator_spark.operators.linking import link_terms
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus

    stops = _stops()
    with tracer.span("normalize") as s:
        normalized = normalize_corpus(
            corpus, html_col="html" if html else None).persist()
        s.counts["rows"] = normalized.count()
    src = F.col("html") if html else F.col("text")
    s.counts["mb_in"] = corpus.agg(
        F.sum(F.length(src))).first()[0] / 1e6

    with tracer.span("features") as s:
        features = phrases.extract_doc_features(
            normalized, stops, "doc_id", "norm_text").persist()
        s.counts["rows"] = features.count()
    s.counts["terms_out"] = features.agg(F.sum(
        F.size("phrases") + F.size("unigrams") + F.size("verbs"))).first()[0]

    with tracer.span("dictionary") as s:
        counted = phrases.unified_term_counts(features).persist()
        frames = phrases.sections_from_counted(counted)
        frames["phrases"] = phrases.dedup_equal_count_phrases(
            frames["phrases"])
        rows = phrases.union_dictionary_frames(frames).collect()
        dictionary = phrases.ranked_dictionary_from_rows(rows, stops)
    s.counts["rows_collected"] = len(rows)
    for kind in ("phrases", "unigrams", "verbs"):
        s.counts[f"terms.{kind}"] = len(getattr(dictionary, kind))

    with tracer.span("linking") as s:
        onto = link_terms(normalized, dictionary, "doc_id", "question",
                          "norm_text").persist()
        s.counts["docs"] = onto.count()
    hits = onto.select(_bot_free("terms").alias("n")).agg(
        F.sum((F.col("n") > 0).cast("long")), F.sum("n")).first()
    s.counts["hit_ratio"] = hits[0] / max(s.counts["docs"], 1)
    s.counts["terms_per_doc"] = hits[1] / max(s.counts["docs"], 1)

    with tracer.span("hierarchy") as s:
        opt = hierarchy.optimise_graph(onto).persist()
        opt.count()
    s.counts["paths"] = opt.select("terms").distinct().count()

    with tracer.span("triples") as s:
        tri.build_triples(opt).write.mode("overwrite").parquet(out)
    s.counts["rows"] = _count(corpus.sparkSession, out)
    s.counts["dedup_ratio"] = s.counts["rows"] / max(
        tri.ontology_triples(opt).count(), 1)

    def release() -> None:
        for df in (opt, onto, counted, features, normalized):
            df.unpersist()

    return normalized, frames, release


# --------------------------------------------------------------- crawl


class CrawlState:
    """The directories of one crawl: source drops land in, the admitted
    corpus, its sketch store, the enriched triples, both checkpoints,
    and the frozen dictionary."""

    def __init__(self, spark, base: str, frames) -> None:
        from knowledgegraphgenerator_spark.operators.phrases import (
            save_dictionary,
        )

        self.spark = spark
        p = {k: os.path.join(base, k) for k in (
            "stage", "source", "corpus", "store", "triples",
            "ck_ingest", "ck_enrich", "dictionary")}
        self.paths = p
        self.stops = _stops()
        save_dictionary(frames, p["dictionary"])
        os.makedirs(p["source"], exist_ok=True)

    def stage(self, drop, d: int) -> int:
        """Write drop ``d`` next to the source; -> rows offered."""
        path = os.path.join(self.paths["stage"], f"d{d}")
        drop.coalesce(env.cores()).write.parquet(path)
        return self.spark.read.parquet(path).count()

    def land(self, d: int) -> None:
        """Move the staged drop's files into the source (atomic renames,
        as a crawler lands finished files)."""
        path = os.path.join(self.paths["stage"], f"d{d}")
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                os.rename(os.path.join(path, name), os.path.join(
                    self.paths["source"], f"d{d}-{name}"))

    def ingest(self) -> None:
        from knowledgegraphgenerator_spark.streaming.incremental import (
            incremental_ingest_dedup,
        )

        p = self.paths
        incremental_ingest_dedup(self.spark, p["source"], p["corpus"],
                                 p["ck_ingest"], store_dir=p["store"])

    def enrich(self) -> None:
        from knowledgegraphgenerator_spark.streaming.incremental import (
            incremental_kg_triples_auto,
        )

        p = self.paths
        incremental_kg_triples_auto(self.spark, p["corpus"], p["dictionary"],
                                    self.stops, p["triples"], p["ck_enrich"])

    def check(self) -> bool:
        """No exact clone was admitted, and the streamed triples equal,
        as a multiset, the frozen dictionary linked over exactly the
        admitted pages (the composition the ingest -> enrich loop
        promises)."""
        from knowledgegraphgenerator_spark.operators.linking import (
            link_terms,
        )
        from knowledgegraphgenerator_spark.operators.phrases import (
            load_ranked_dictionary,
        )
        from knowledgegraphgenerator_spark.operators.triples import (
            ontology_triples,
        )
        from knowledgegraphgenerator_spark.pipeline import normalize_corpus

        spark, p = self.spark, self.paths
        admitted = spark.read.parquet(p["corpus"])
        exact_admitted = spark.read.parquet(p["source"]).where(
            F.col("kind") == "exact").join(admitted, "doc_id", "semi").count()
        dictionary = load_ranked_dictionary(spark, p["dictionary"],
                                            self.stops)
        want = ontology_triples(link_terms(
            normalize_corpus(admitted.select("doc_id", "text", "lang")),
            dictionary), row_local_dedup=True)
        got = spark.read.parquet(p["triples"])
        ok = exact_admitted == 0 and (
            check.triple_digest(got) == check.triple_digest(want))
        if not ok:
            print(f"kgbench: crawl check failed ({exact_admitted} exact "
                  f"clones admitted)", file=sys.stderr)
        return ok


def _dedup_defaults() -> dict:
    """``crawl_dedup``'s own parameter defaults, so the stage-by-stage
    counts below follow whatever the ingest stream applies."""
    from knowledgegraphgenerator_spark.operators.dedup import crawl_dedup

    return {name: p.default for name, p in
            inspect.signature(crawl_dedup).parameters.items()
            if p.default is not inspect.Parameter.empty}


def crawl_walk(tracer: Tracer, crawl: CrawlState, pages, seed: int) -> None:
    """``pages`` (doc_id, text, lang) offered as two drops: those with
    even ids, admitted and enriched untraced as the crawl so far, then
    those with odd ids plus seeded exact and near clones of any page. The
    second drop goes through the dedup operators the ingest stream
    applies, called directly; then the ingest stream; then the
    enrichment stream, each in its span."""
    from knowledgegraphgenerator_spark.operators import dedup

    spark, p = crawl.spark, crawl.paths
    pages = pages.persist()
    first = pages.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    crawl.stage(first.withColumn("kind", F.lit("novel")), 0)
    crawl.land(0)
    crawl.ingest()
    crawl.enrich()
    offered = crawl.stage(gen.with_clones(
        pages.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1), pages, seed,
        CLONE_SHARE), 1)
    pages.unpersist()

    staged = spark.read.parquet(os.path.join(p["stage"], "d1")).select(
        "doc_id", "text")
    with tracer.span("dedup") as s:
        kept = dedup.admit_batch_against_store(
            dedup.crawl_dedup(staged, "text", "doc_id", persist=False),
            spark.read.parquet(f"{p['store']}/shingles"),
            spark.read.parquet(f"{p['store']}/bands"), "text", "doc_id")
        kept.count()
    # crawl_dedup's within-drop chain, counted stage by stage
    kw = _dedup_defaults()
    uniq = dedup.exact_dedup(staged, "text", "doc_id")
    sh = dedup.token_shingles(uniq, "text", "doc_id",
                              kw["shingle_n"]).persist()
    pairs = dedup.lsh_candidate_pairs_from_wide(
        dedup.minhash_wide(sh, "doc_id", kw["k"]), "doc_id",
        kw["rows_per_band"], kw["k"], max_bucket=kw["max_bucket"],
        compat=(kw["threshold_num"], kw["threshold_den"])).persist()
    n_pairs = pairs.count()
    s.counts["exact_kept_ratio"] = uniq.count() / max(offered, 1)
    s.counts["candidate_pairs"] = n_pairs
    s.counts["verified_ratio"] = dedup.verify_jaccard(
        pairs, sh, "doc_id", kw["threshold_num"],
        kw["threshold_den"]).count() / max(n_pairs, 1)
    pairs.unpersist()
    sh.unpersist()

    before = _count(spark, p["corpus"])
    files = _files(p["corpus"]) | _files(p["store"])
    crawl.land(1)
    with tracer.span("streaming.ingest") as s:
        crawl.ingest()
    s.counts["admitted_ratio"] = (
        _count(spark, p["corpus"]) - before) / max(offered, 1)
    s.counts["store_mb"] = _mb(p["store"])
    s.counts["files_written"] = len(
        (_files(p["corpus"]) | _files(p["store"])) - files)

    before = _count(spark, p["triples"])
    files = _files(p["triples"])
    with tracer.span("streaming.enrich") as s:
        crawl.enrich()
    s.counts["files_written"] = len(_files(p["triples"]) - files)
    s.counts["rows"] = _count(spark, p["triples"]) - before


# name -> (class, sizes, sizes for the smoke test)
WORKLOADS = {
    "web_kg": (WebKG, dict(docs=6000, slice_docs=200),
               dict(docs=200, slice_docs=60)),
    "vocab_kg": (VocabKG, dict(docs=3000, slice_docs=100),
                 dict(docs=300, slice_docs=60)),
}
