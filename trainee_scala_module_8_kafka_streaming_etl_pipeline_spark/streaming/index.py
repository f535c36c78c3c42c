"""Incremental BM25 index maintenance over a document stream.

The retrieval analogue of the mergeable sketch states (streaming/
sketches.py): every statistic BM25 needs is an associative SUM —
per-(doc, query-term) term frequencies, per-term document frequencies
(derived), and the corpus totals (doc count, token count) — so the
index state folds batch-by-batch and the maintained ranking equals the
batch ranking over everything ingested (operators/retrieval.py:
bm25_topk shares the scoring math and the DuckDB oracle).

State shape (one packed frame, two row kinds):
  - posting rows (doc_id NOT NULL): (doc_id, term, tf, dl) — one row
    per matched document per query term it contains; dl rides along so
    scoring never rejoins a doc-length table.
  - corpus row  (doc_id NULL): (n_docs, sum_dl) totals over ALL
    documents seen, matched or not (avgdl needs the whole corpus).

Sums are additive (NOT idempotent), so the state commits at its
micro-batch id (streaming/upsert.py): a replayed batch overwrites its
own partial commit instead of double-counting, and each commit prunes
to the newest two versions so disk stays O(state).

At scale: postings are keyed on (doc, term) — a plain hash-partitioned
state table; the corpus row is one record; each batch pays one
tokenize/filter pass and two tiny keyed merges.  A full inverted index
(all terms, not just a standing query's) is the same state keyed by
term — this module keeps the standing-query form oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.retrieval import BM25_B, BM25_K1
from .sources import run_query
from .upsert import read_state, write_version

_COLS = ["doc_id", "term", "tf", "dl", "n_docs", "sum_dl"]


def _batch_state(batch_df: DataFrame, query_terms: Sequence[str]) -> DataFrame:
    if not query_terms:
        raise ValueError("streaming bm25 index: query_terms must be non-empty")
    tok = batch_df.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings = tf.join(dl, "doc_id").select(
        "doc_id", "term", "tf", "dl",
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("sum_dl"),
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select(
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("dl"),
        "n_docs",
        "sum_dl",
    )
    return postings.unionByName(corpus)


def _merge(prior: DataFrame, batch_state: DataFrame) -> DataFrame:
    both = prior.unionByName(batch_state)
    postings = (
        both.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
        .select(
            "doc_id", "term", "tf", "dl",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("sum_dl"),
        )
    )
    corpus = (
        both.filter(F.col("doc_id").isNull())
        .groupBy()
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        .select(
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("tf"),
            F.lit(None).cast("long").alias("dl"),
            "n_docs",
            "sum_dl",
        )
    )
    return postings.unionByName(corpus)


def merge_index_batch(
    batch_df: DataFrame,
    state_dir: str,
    query_terms: Sequence[str],
    batch_id: int,
) -> None:
    """Apply one micro-batch.  Prior = greatest committed version with
    id < batch_id, so a crashed batch's re-run deterministically
    overwrites its own partial commit."""
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    bs = _batch_state(batch_df, query_terms)
    if prior is not None:
        bs = _merge(prior, bs)
    write_version(bs.select(*_COLS), state_dir, version=batch_id)


def run_index_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    query_terms: Sequence[str],
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_index_batch(b, state_dir, query_terms, i),
        sources,
        state_dir,
    )


def read_bm25_topk(
    spark: SparkSession,
    state_dir: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Current top-k from the maintained index state — the identical
    scoring expression as the batch operator, reading postings instead
    of re-tokenizing the corpus."""
    state = read_state(spark, state_dir)
    postings = state.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", "term", "tf", "dl"
    )
    corpus = state.filter(F.col("doc_id").isNull()).select(
        "n_docs", (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl")
    )
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    smic = F.round(
        F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / den, 6) * 1e6
    ).cast("bigint")
    scored = (
        postings.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", smic.alias("smic"))
        .groupBy("doc_id")
        .agg(F.sum("smic").alias("smic"))
    )
    w = Window.orderBy(F.desc("smic"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            F.round(F.col("smic") / F.lit(1e6), 6).alias("bm25"),
            "rnk",
        )
    )
