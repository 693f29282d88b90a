"""S14: PDF/ZIP document-corpus source (SURVEY.md §2.1).

The reference shells out to ``pdftotext`` per PDF and merges ZIP members
with PyPDF2 (/root/reference/synonym_generator/syn_gen_with_docs.py:13-53)
— a driver-side subprocess loop. Spark-first re-expression:

  * files arrive via ``spark.read.format('binaryFile')`` (path, bytes);
  * one ``mapInPandas`` pass fans every archive/document out to
    ``(path, member, text)`` rows — ZIP members are extracted with the
    stdlib ``zipfile`` ON THE EXECUTOR from the in-memory bytes (no temp
    files, no subprocess), text members decoded directly;
  * PDF text extraction needs a PDF parser that is NOT in this
    environment, so the decode step is a clearly-marked stub: ``pypdf``
    is used when importable, otherwise ``deterministic_fake`` yields a
    stable placeholder for plumbing tests and anything else raises
    NotImplementedError. The Spark-side plumbing (schema, batching,
    member fan-out) is real and tested.

Output feeds the synonym-corpus path: sentence rows -> Word2Vec training
(operators/word2vec.py), mirroring syn_gen_with_docs.fetch_synonyms.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

DOC_ROWS_SCHEMA = "path string, member string, text string"

_TEXT_SUFFIXES = (".txt", ".text", ".md", ".csv")


def extract_pdf_text(data: bytes, deterministic_fake: bool = False) -> str:
    """PDF bytes -> text. Real path uses pypdf when importable; the
    sandbox ships no PDF parser, so ``deterministic_fake`` provides a
    stable stand-in for plumbing tests (disclosed stub)."""
    try:
        from pypdf import PdfReader  # type: ignore[import-not-found]

        reader = PdfReader(io.BytesIO(data))
        return "\n".join(page.extract_text() or "" for page in reader.pages)
    except ImportError:
        if deterministic_fake:
            import hashlib

            digest = hashlib.sha256(data).hexdigest()[:12]
            return f"fake pdf text {digest} length {len(data)}"
        raise NotImplementedError(
            "no PDF parser in this environment; pass "
            "deterministic_fake=True for plumbing tests"
        )


def _doc_rows(path: str, name: str, data: bytes,
              deterministic_fake: bool) -> Iterator[tuple[str, str, str]]:
    lower = name.lower()
    if lower.endswith(".zip"):
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for member in zf.namelist():
                if member.endswith("/"):
                    continue
                payload = zf.read(member)
                mlower = member.lower()
                if mlower.endswith(".pdf"):
                    yield (path, member,
                           extract_pdf_text(payload, deterministic_fake))
                elif mlower.endswith(_TEXT_SUFFIXES):
                    yield (path, member,
                           payload.decode("utf-8", errors="replace"))
    elif lower.endswith(".pdf"):
        yield (path, "", extract_pdf_text(data, deterministic_fake))
    else:
        yield (path, "", data.decode("utf-8", errors="replace"))


def read_document_corpus(
    spark: SparkSession,
    path: str,
    deterministic_fake: bool = False,
) -> DataFrame:
    """binaryFile scan -> (path, member, text) rows; ZIPs fan out to one
    row per text/pdf member. Partitioning follows the binaryFile source
    (one split per file — archives are unsplittable by nature; a corpus
    of many files parallelizes across them)."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[str, str, str]] = []
            for p, content in zip(pdf["path"], pdf["content"]):
                out.extend(
                    _doc_rows(p, p, bytes(content), deterministic_fake)
                )
            yield pd.DataFrame(out, columns=["path", "member", "text"])

    return files.mapInPandas(gen, schema=DOC_ROWS_SCHEMA)
