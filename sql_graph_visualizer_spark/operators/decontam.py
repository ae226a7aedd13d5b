"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation benchmark.

The standard LLM-pretraining hygiene step (GPT-3 appendix C / PaLM /
Llama use 8- to 13-gram collision checks): a training document that
shares long word n-grams with a benchmark document leaks the benchmark
into the training set and inflates eval scores. This is the
set-membership twin of the dedup family — overlap against a FIXED
external corpus instead of self-similarity.

Scale shape (100 TB corpus, ~10^5-10^6 benchmark docs): the benchmark's
distinct n-gram set is small relative to the corpus (benchmarks are
curated eval sets, not crawls) — build it once, broadcast it, and the
corpus side streams through: explode → partition by doc → per-doc
distinct (hash-agg) → broadcast left join → per-doc ratio. The corpus
text never shuffles; the only shuffled rows are (doc_id, gram) pairs,
moved once (the distinct and the ratio share that doc_id
partitioning), and that shuffle is what any exact per-doc set metric
costs. ``benchmark_ngrams`` builds the set on its own, so a stream
scoring many batches builds and caches it once. For a benchmark too big
to broadcast, pass ``broadcast_benchmark=False`` to fall back to a
shuffle join on the gram — same result, more exchanges.

Zero Python UDFs: n-grams are array expressions (the guarded
``sequence``/``transform`` pattern shared with ``repetition_profile``
— Spark ``sequence(1, 0)`` counts DOWN, so short docs need the
explicit guard), matching DuckDB ``regexp_split_to_array`` +
``list_transform(range(...))`` token for token so the whole operator
is value-hash oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _word_ngrams(text_col: str, n: int, normalize: bool = False) -> Column:
    """Distinct-ready array of space-joined word n-grams (1-based
    positions, empty for docs shorter than n words).

    ``normalize``: GPT-3-style pre-tokenization (appendix C) — strip
    punctuation to spaces and collapse whitespace before n-gramming, so
    a quote/punctuation variant of a benchmark passage ("foo, bar!" vs
    "foo bar") still collides. Plain mode under-matches those variants
    (ADVICE/VERDICT r5 #5); both modes are codegen expressions with
    exact DuckDB twins."""
    src = F.lower(F.col(text_col))
    if normalize:
        # punctuation → space FIRST, then trim (the replacement can
        # create new leading/trailing spaces; \s+ split collapses runs)
        src = F.trim(F.regexp_replace(src, r"[^a-z0-9\s]", " "))
    else:
        src = F.lower(F.trim(F.col(text_col)))
    ws = F.split(src, r"\s+")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(ws, i + j) for j in range(n)]
    )
    return F.when(
        F.size(ws) >= n,
        F.transform(F.sequence(F.lit(1), F.size(ws) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def benchmark_ngrams(
    benchmark: DataFrame, n: int = 8, text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """The benchmark's distinct word ``n``-gram set, one ``g`` row per
    gram (with the constant ``__hit`` the scoring join counts). A caller
    that scores many corpus batches against one benchmark persists this
    once and passes it to :func:`contamination_scores`."""
    return (
        benchmark.select(_word_ngrams(text_col, n, normalize=normalize).alias("gs"))
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """Per-document contamination scores vs a benchmark corpus.

    Returns ``(doc_id, n_ngrams, n_matched, contamination)`` for every
    corpus document sharing at least one word ``n``-gram with ANY
    benchmark document, where ``contamination`` = |distinct doc n-grams
    ∩ benchmark n-gram set| / |distinct doc n-grams| (distinct per doc,
    so a repetitive document cannot inflate its own score). A full copy
    of a benchmark doc scores 1.0; untouched documents are absent
    (filter or anti-join on this result to decontaminate)."""
    bench = benchmark_ngrams(benchmark, n, text_col, normalize)
    return contamination_scores(
        corpus, bench, n, id_col, text_col, broadcast_benchmark, normalize
    )


def contamination_scores(
    corpus: DataFrame,
    bench_grams: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """:func:`ngram_contamination` against a prebuilt
    :func:`benchmark_ngrams` set (same ``n`` and ``normalize``). The
    ``(doc_id, g)`` pairs are hash-partitioned by ``doc_id`` once: that
    exchange serves both the per-doc distinct and the per-doc ratio."""
    grams = (
        corpus.select(
            F.col(id_col).alias("doc_id"),
            _word_ngrams(text_col, n, normalize=normalize).alias("gs"),
        )
        .select("doc_id", F.explode("gs").alias("g"))
        .repartition("doc_id")
        .dropDuplicates(["doc_id", "g"])
    )
    bench = F.broadcast(bench_grams) if broadcast_benchmark else bench_grams
    return (
        grams.join(bench, on="g", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("__hit").alias("n_matched"),
            F.round(F.count("__hit") / F.count("*"), 6).alias("contamination"),
        )
        .filter(F.col("n_matched") > 0)
    )
