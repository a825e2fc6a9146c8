"""The benchmark's workloads: named lists of operations on the engine.

Each operation reaches the engine only through a public entry point: a
registry query ``QUERIES[name](spark, dir)`` followed by a noop-sink
action, or one of the MapReduce facade calls.  ``build`` is the
construction step (for a query, the DataFrame is built, running whatever
jobs construction needs), ``run`` is the action, and ``check`` compares
the result with the expected output outside the timed window.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

from . import inputs
from .check import Oracles, mismatch, normalize


@dataclass
class Context:
    """What the operations of one run share: the session and the inputs."""

    spark: Any
    tables_dir: str
    oracles: Oracles | None = None
    facade: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    build: Callable[[Context], Any]
    run: Callable[[Context, Any], Any]
    check: Callable[[Context, Any], str | None]
    #: intermediate (k2, v2) pairs a facade op emits; 0 for queries
    pairs: int = 0


def _noop_action(ctx: Context, df):
    """Materialise ``df`` with the noop sink; return it for the check."""
    df.write.format("noop").mode("overwrite").save()
    return df


def query_op(name: str) -> Op:
    def build(ctx: Context):
        from map_reduce_framework_spark.plans.registry import QUERIES

        return QUERIES[name](ctx.spark, ctx.tables_dir)

    def check(ctx: Context, df) -> str | None:
        return mismatch(df.toPandas(), ctx.oracles.expected(name))

    return Op(name, build, _noop_action, check)


# --- mapreduce_facade ------------------------------------------------------
# Module-level so Spark pickles them by reference (workers import perfbench).


def wc_map(doc_id, text):
    for word in text.split():
        yield word, 1


def wc_reduce(word, ones):
    yield word, sum(ones)


def wc_map_df(batches):
    for pdf in batches:
        words = pdf["text"].str.split().explode()
        yield pd.DataFrame({"word": words.to_numpy(dtype=object), "one": 1})


def wc_reduce_df(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"word": [pdf["word"].iloc[0]], "n": [int(pdf["one"].sum())]})


def _sorted_by_key(pairs: list) -> bool:
    return all(not (b[0] < a[0]) for a, b in zip(pairs, pairs[1:]))


def prepare_facade(ctx: Context, work_dir: str, seed: int) -> None:
    """Generate the facade's inputs and their expected outputs."""
    docs = inputs.zipf_corpus(seed, inputs.WC_DOCS)
    df_docs = inputs.zipf_corpus(seed, inputs.DF_DOCS)
    df_path = os.path.join(work_dir, "facade_docs.parquet")
    pd.DataFrame(df_docs, columns=["doc_id", "text"]).to_parquet(df_path, index=False)
    folders = inputs.search_tree(os.path.join(work_dir, "search_tree"), seed)
    q = inputs.SEARCH_QUERY
    entries = {f: [".", ".."] + sorted(os.listdir(f)) for f in folders}
    ctx.facade = {
        "docs": docs,
        "wc_expected": sorted(Counter(w for _, t in docs for w in t.split()).items()),
        "df_path": df_path,
        "df_expected": normalize(
            pd.DataFrame(
                sorted(Counter(w for _, t in df_docs for w in t.split()).items()),
                columns=["word", "n"],
            )
        ),
        "search_pairs": [(q, f) for f in folders],
        "search_expected": sorted((q, n) for f in folders for n in entries[f] if q in n),
        "search_entries": sum(len(e) for e in entries.values()),
    }


def _facade_ops(ctx: Context) -> list[Op]:
    from map_reduce_framework_spark import mapreduce
    from map_reduce_framework_spark.operators import search_client

    def wc_run(ctx, _):
        return mapreduce.run_map_reduce(ctx.spark, ctx.facade["docs"], wc_map, wc_reduce)

    def wc_check(ctx, out):
        if not _sorted_by_key(out):
            return "output not ordered by key"
        return None if sorted(out) == ctx.facade["wc_expected"] else "counts differ"

    def search_run(ctx, _):
        return search_client.search(
            ctx.spark, ctx.facade["search_pairs"], ctx.spark.sparkContext.defaultParallelism
        )

    def search_check(ctx, out):
        if not _sorted_by_key(out):
            return "output not ordered by key"
        return None if sorted(out) == ctx.facade["search_expected"] else "matches differ"

    def df_build(ctx):
        docs = ctx.spark.read.parquet(ctx.facade["df_path"])
        return mapreduce.run_map_reduce_df(
            docs, wc_map_df, "word string, one long", ["word"],
            wc_reduce_df, "word string, n long",
        )

    def df_check(ctx, df):
        pdf = df.toPandas()
        if not pdf["word"].is_monotonic_increasing:
            return "output not ordered by key"
        return mismatch(pdf, ctx.facade["df_expected"])

    return [
        Op("mr_wordcount", lambda ctx: None, wc_run, wc_check,
           pairs=inputs.WC_DOCS * inputs.WC_TOKENS),
        Op("mr_search", lambda ctx: None, search_run, search_check,
           pairs=ctx.facade["search_entries"]),
        Op("mr_wordcount_df", df_build, _noop_action, df_check,
           pairs=inputs.DF_DOCS * inputs.WC_TOKENS),
    ]


# Each workload's queries, and why it exists, are documented in README.md.
QUERY_WORKLOADS = {
    "corpus_pipeline": [
        "clean_corpus",
        "ann_index_maintain",
    ],
}
FACADE = "mapreduce_facade"
WORKLOADS = [*QUERY_WORKLOADS, FACADE]


def ops_for(workload: str, ctx: Context) -> list[Op]:
    if workload == FACADE:
        return _facade_ops(ctx)
    return [query_op(name) for name in QUERY_WORKLOADS[workload]]
